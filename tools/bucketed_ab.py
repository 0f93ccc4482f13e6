"""A/B: b7's fact-fact core (lineitem JOIN orders on orderkey) — plain
parquet scans (shuffle both sides into the SMJ) vs a co-bucketed layout
(bucketBy + sortBy on the join key: shuffle-free, sort-free SMJ).

Extends round-7's tools/bucket_bench.py (since removed; recoverable from
git history), which measured the exchange elimination through the
engine's save_table sink (numbers kept in SCALING.md "Bucketing,
measured"), with the SORT side of the story: Spark 3.0+ disables
bucketed-scan outputOrdering by default (SPARK-28169), so bucket_bench's
bucketed arm still sorted both sides inside the SMJ. This tool lands
one-file-per-bucket sorted buckets and flips the legacy flag, driving
the join-input plan to zero Exchange and zero Sort.

VERDICT r9 #2: b7_join_multiway's one scale-killer-shaped cost is the
600M x 150M lineitem-orders sort-merge join at sf100 (228.9 s) — the
honest plan when neither side fits a broadcast, and exactly the join a
production warehouse would co-bucket at load time. The bucketing sink
machinery already exists (sinks/writers.py bucketBy arm, proven
shuffle-free in tests/test_scale_posture.py on toy data); this tool
measures what it actually buys at decade scale and records the curve
in BASELINE.md.

Method:
  1. land lineitem + orders as bucketed+sorted tables (same bucket count,
     join key) via saveAsTable — a one-time layout cost, also measured;
  2. run the identical join+aggregate (revenue per o_orderpriority,
     money-grain exact) against plain parquet and against the bucketed
     tables, N alternating repetitions each, plan-asserted:
     plain >= 2 Exchanges feeding the join, bucketed 0;
  3. verify both produce identical rows (exactness gate before timing
     means anything);
  4. print ONE JSON line with medians + the Exchange/Sort counts.

AQE note: bucketed-scan SMJ requires the join to not be demoted; at sf10+
orders is far past any broadcast threshold, so both arms genuinely run
SMJ — asserted, not assumed.

Usage:
    python tools/bucketed_ab.py --sf-dir testdata_sf10 --buckets 64
    python tools/bucketed_ab.py --sf-dir testdata_sf10 --skip-setup  # reuse tables
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import sys
import time

REPO = "/root/repo"
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

from data_engineering_zoomcamp_my_test_spark.functions.exprs import (  # noqa: E402
    dmoney_sum_grain,
    money,
)
from data_engineering_zoomcamp_my_test_spark.session import get_spark  # noqa: E402


def _executed_plan(df: DataFrame) -> str:
    df.count()  # materialize so AQE finalizes
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the pre-adaptive "Initial Plan" section;
    # counting operators across both would double every node.
    return plan.split("== Initial Plan ==")[0]


def _core_join(li: DataFrame, od: DataFrame) -> DataFrame:
    rev = money("l_extendedprice") * (F.lit(1) - money("l_discount"))
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            dmoney_sum_grain(rev, "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _time(fn, reps: int) -> list[float]:
    out = []
    for _ in range(reps):
        t = time.time()
        fn()
        out.append(time.time() - t)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=f"{REPO}/testdata_sf10")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--skip-setup", action="store_true",
                    help="reuse existing bucketed tables")
    args = ap.parse_args()

    spark = get_spark()
    # Spark 3.0+ disabled bucketed-scan outputOrdering by default
    # (SPARK-28169); without it the SMJ re-sorts the already-sorted
    # buckets. With one file per bucket the legacy flag restores the
    # sort-free scan — measured 4.75s -> ~1.4s at sf10 on top of the
    # exchange elimination.
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    li_name, od_name = "ab_lineitem_bkt", "ab_orders_bkt"

    setup_s = None
    if not args.skip_setup:
        t = time.time()
        for src, name, key in (
            ("lineitem", li_name, "l_orderkey"),
            ("orders", od_name, "o_orderkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            # A crashed prior run can leave the managed location on disk
            # without a catalog entry; saveAsTable then refuses the name.
            import shutil

            wh = spark.conf.get(
                "spark.sql.warehouse.dir", f"{REPO}/spark-warehouse"
            ).removeprefix("file:")
            shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
            (
                spark.read.parquet(f"{args.sf_dir}/{src}.parquet")
                # One shuffle so each bucket lands as ONE file: Spark only
                # trusts (and elides) the bucket sort order when a bucket
                # is a single file — multi-file buckets re-sort at read.
                .repartition(args.buckets, F.col(key))
                .write.bucketBy(args.buckets, key)
                .sortBy(key)
                .format("parquet")
                .mode("overwrite")
                .saveAsTable(name)
            )
        setup_s = round(time.time() - t, 2)
    else:
        # The default catalog is session-scoped (in-memory): the bucketed
        # FILES persist under spark-warehouse but the registration does
        # not. Re-register external tables with the bucket+sort spec over
        # the existing locations.
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", f"{REPO}/spark-warehouse"
        ).removeprefix("file:")
        for name, key in ((li_name, "l_orderkey"), (od_name, "o_orderkey")):
            loc = f"{wh}/{name}"
            sch = spark.read.parquet(loc).schema
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in sch
            )
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            spark.sql(
                f"CREATE TABLE {name} ({cols}) USING PARQUET "
                f"CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {args.buckets} BUCKETS LOCATION '{loc}'"
            )

    li_p = spark.read.parquet(f"{args.sf_dir}/lineitem.parquet")
    od_p = spark.read.parquet(f"{args.sf_dir}/orders.parquet")
    li_b, od_b = spark.table(li_name), spark.table(od_name)

    plain_df, bkt_df = _core_join(li_p, od_p), _core_join(li_b, od_b)

    # Exactness gate: identical results or the timing is meaningless.
    rows_p = sorted(map(tuple, plain_df.collect()))
    rows_b = sorted(map(tuple, bkt_df.collect()))
    if rows_p != rows_b:
        print(json.dumps({"metric": "bucketed_ab", "error": "result mismatch"}))
        return 1

    plan_p, plan_b = _executed_plan(plain_df), _executed_plan(bkt_df)

    def _n(pat: str, plan: str) -> int:
        return len(re.findall(pat, plan))

    plans = {
        "plain": {"exchanges": _n(r"Exchange", plan_p),
                  "sorts": _n(r"\bSort\b", plan_p),
                  "smj": _n(r"SortMergeJoin", plan_p)},
        "bucketed": {"exchanges": _n(r"Exchange", plan_b),
                     "sorts": _n(r"\bSort\b", plan_b),
                     "smj": _n(r"SortMergeJoin", plan_b)},
    }
    # The claim under test: co-bucketing removes the join-input shuffles
    # AND sorts. (The post-agg exchange for groupBy remains in both.)
    assert plans["plain"]["smj"] == 1 and plans["bucketed"]["smj"] == 1, plans
    assert plans["bucketed"]["exchanges"] < plans["plain"]["exchanges"], plans
    assert plans["bucketed"]["sorts"] <= plans["plain"]["sorts"], plans

    # Alternate arms so cache/page warmth doesn't favor one side.
    t_p: list[float] = []
    t_b: list[float] = []
    for _ in range(args.reps):
        t_p += _time(lambda: _core_join(li_p, od_p).collect(), 1)
        t_b += _time(lambda: _core_join(li_b, od_b).collect(), 1)

    out = {
        "metric": "bucketed_ab",
        "sf_dir": args.sf_dir,
        "buckets": args.buckets,
        "setup_sec": setup_s,
        "plain_sec": round(statistics.median(t_p), 2),
        "bucketed_sec": round(statistics.median(t_b), 2),
        "speedup": round(statistics.median(t_p) / statistics.median(t_b), 2),
        "plain_runs": [round(x, 2) for x in t_p],
        "bucketed_runs": [round(x, 2) for x in t_b],
        "plans": plans,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
