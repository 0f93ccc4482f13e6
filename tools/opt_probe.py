"""Round-13 optimization measurement harness (guide §1).

Isolates declared queries with the noop sink so the timed action computes
every column of every row (``df.count()`` — the bench contract's action —
lets the optimizer prune; guide §1.4), labels each job
(``setJobDescription``, §1.5), and captures ``explain("formatted")`` for
the plan-diff evidence the round deliverables require.

Usage:
    python tools/opt_probe.py --names b3_groupby_agg,b7_join_multiway \
        --time --plans-dir plans/r13 --suffix before
    python tools/opt_probe.py --survey            # plan-shape survey, all decls

The survey mode only *builds* plans (no execution): per decl it reports the
Exchange count, join strategies, Python-boundary nodes and scan pushdown —
the §7.2 checklist, mechanically, over the whole catalog.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES
from data_engineering_zoomcamp_my_test_spark.operators import all_queries
from data_engineering_zoomcamp_my_test_spark.session import EngineConfig, get_spark

_JOIN_RE = re.compile(
    r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)\b"
)
_PY_RE = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|"
    r"FlatMapGroupsInPandas|AggregateInPandas)\b"
)


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _plan_stats(plan: str) -> dict:
    return {
        "exchanges": plan.count("Exchange"),
        "joins": sorted(set(_JOIN_RE.findall(plan))),
        "python_nodes": sorted(set(_PY_RE.findall(plan))),
        "pushed_filters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "wsc_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", default="")
    ap.add_argument("--survey", action="store_true",
                    help="plan-shape survey over every decl (no execution)")
    ap.add_argument("--time", action="store_true",
                    help="run each decl to the noop sink, timed")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(EngineConfig(
        master=f"local[{cpus}]", shuffle_partitions=cpus,
        app_name="opt_probe",
    ))
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    if args.survey:
        names = list(queries)
    elif args.names:
        names = [n for n in args.names.split(",") if n]
    else:
        names = BENCH_QUERIES

    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = args.sf_dir

    out: dict[str, dict] = {}
    for name in names:
        row: dict = {}
        try:
            df = queries[name](spark, args.sf_dir)
            plan = _formatted(df)
        except Exception as exc:  # plan build failed — record, move on
            out[name] = {"err": f"{type(exc).__name__}: {exc}"[:200]}
            continue
        row.update(_plan_stats(plan))
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            path = os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
        if args.time:
            spark.sparkContext.setJobDescription(f"warm:{name}")
            queries[name](spark, warm_dir).write.format("noop").mode(
                "overwrite").save()
            best = None
            for i in range(max(1, args.reps)):
                spark.sparkContext.setJobDescription(f"{name}:rep{i}")
                t0 = time.perf_counter()
                queries[name](spark, args.sf_dir).write.format("noop").mode(
                    "overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            spark.sparkContext.setJobDescription(None)
            row["noop_sec"] = round(best, 4)
        out[name] = row
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
