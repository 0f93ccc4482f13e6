"""Decade-scale probe: does Spark's runtime Bloom-filter injection
(SPARK-32268) ever fire for this repo's join shapes? (VERDICT r13 #4)

Generates nothing itself — point it at a >=10 GB corpus built with
tools/gen_sf.py, e.g.:

    python tools/gen_sf.py --copies 100 --src testdata_sf1 \
        --dst /root/bloom_probe_sf100 \
        --tables region nation customer supplier part orders lineitem
    python tools/bloom_probe.py --sf-dir /root/bloom_probe_sf100

For each (shape, conf) pair it builds the plan and counts
``might_contain`` / ``bloom_filter_agg`` expressions. Findings from the
r14 run (13.1 GB lineitem, 1.7 GB orders — application side comfortably
over the 10 GiB applicationSideScanSizeThreshold) are committed in
plans/r14/bloom_probe_findings.txt; the headline: injection requires a
creation side that is a DIRECTLY-FILTERED SCAN (one Filter over one
relation — a join subtree on the creation side never qualifies, inner or
semi), AND a creation-side size estimate under creationSideThreshold,
AND a creation row estimate under maxNumItems (4M default). The repo's
semi-reduced fact joins (b7/b55/b59) fail the first condition by
construction, so no session-level threshold can make the automatic
filter fire for them — which is why session.py sets none (r14; the r13
256 MB raise was unreachable).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_engineering_zoomcamp_my_test_spark.operators import all_queries
from data_engineering_zoomcamp_my_test_spark.session import EngineConfig, get_spark

OPEN_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": str(4 * 1024**3),
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems": str(500_000_000),
    "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems": str(100_000_000),
    "spark.sql.optimizer.runtime.bloomFilter.numBits": str(512 * 1024 * 1024),
}


def _hits(df) -> list[str]:
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    return [
        ln.strip()[:200]
        for ln in plan.splitlines()
        if "might_contain" in ln or "bloom_filter_agg" in ln
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/bloom_probe_sf100")
    args = ap.parse_args()
    spark = get_spark(EngineConfig(app_name="bloom_probe"))
    spark.sparkContext.setLogLevel("ERROR")
    li = spark.read.parquet(f"{args.sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{args.sf_dir}/orders.parquet")
    cu = spark.read.parquet(f"{args.sf_dir}/customer.parquet")

    def report(tag, df):
        h = _hits(df)
        print(f"[{tag}] bloom exprs: {len(h)}")
        for ln in h[:4]:
            print("   ", ln)

    report("b7 decl, session confs", all_queries()["b7_join_multiway"](spark, args.sf_dir))
    for k, v in OPEN_CONFS.items():
        spark.conf.set(k, v)
    report("b7 decl, all knobs open", all_queries()["b7_join_multiway"](spark, args.sf_dir))
    report(
        "filtered-scan creation side (fires)",
        li.join(od.filter(F.col("o_orderpriority") == "1-URGENT"),
                F.col("l_orderkey") == F.col("o_orderkey")),
    )
    report(
        "creation side = orders JOIN filtered customer (never fires)",
        li.join(
            od.join(cu.filter(F.col("c_mktsegment") == "BUILDING"),
                    F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ),
    )
    spark.stop()


if __name__ == "__main__":
    main()
