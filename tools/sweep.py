"""Time EVERY declared query once (warm session) and print one JSON line.

The headline bench (bench.py) is the driver-recorded contract; this sweep is
the maintenance tool behind BASELINE.md's full-catalog tables — run it after
infra changes to catch regressions in non-headline decls, and at generated
scale factors to extend the scale story:

    python tools/sweep.py                                   # sf0.1
    SPARK_GRAFT_SF_DIR=testdata_sf1 python tools/sweep.py   # any sf dir

Exit status is nonzero if any query errors.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_zoomcamp_my_test_spark.operators import all_queries
from data_engineering_zoomcamp_my_test_spark.session import EngineConfig, get_spark


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    action_kind = os.environ.get("SPARK_GRAFT_ACTION", "count")
    if action_kind not in ("count", "hash"):
        raise SystemExit(f"sweep: unknown SPARK_GRAFT_ACTION {action_kind!r}")
    # SPARK_GRAFT_EVENT_LOG_DIR=/path turns on Spark event logging for the
    # sweep session — used to adjudicate transients at generated decades
    # (VERDICT r6 #5: the one-off stopped-SparkContext at sf100).
    extra: dict[str, str] = {}
    ev_dir = os.environ.get("SPARK_GRAFT_EVENT_LOG_DIR")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": ev_dir}
    spark = get_spark(EngineConfig(app_name="sweep", extra=extra))
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    # SPARK_GRAFT_ONLY=comma,separated,decls restricts the sweep — used for
    # partial-decade runs where only a subset of tables was generated
    # (e.g. the sf100 decade covers lineitem/documents/events shapes only).
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in names if n not in queries]
        if unknown:
            raise SystemExit(f"sweep: unknown decls in SPARK_GRAFT_ONLY: {unknown}")
        queries = {n: queries[n] for n in names}
    # Warm the JVM/codegen caches against the smallest data available;
    # prefer the tiny sf0.001 set, fall back to the sweep target so the
    # tool works on machines without /root/testdata (ADVICE r4).
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    warm = queries.get("b3_groupby_agg") or next(iter(queries.values()))
    warm(spark, warm_dir).count()

    # SPARK_GRAFT_ACTION=hash swaps the default `.count()` timing action for
    # a full-row xxhash64 aggregate.  `.count()` is the cheap, stable default
    # (and what every prior round's tables were measured with), but Catalyst
    # prunes projection columns a count never reads — so for row-per-input
    # shapes (c10/c23/c34-style) it times plan+scan, not the published
    # columns.  The hash action forces every output column to materialize
    # while still returning one row to the driver (no collect of the result).
    def run_action(df) -> None:
        if action_kind == "hash":
            from pyspark.sql import functions as F

            try:
                df.select(
                    F.sum(F.xxhash64(F.struct(*df.columns))).alias("h")
                ).collect()
                return
            except Exception:
                # fall back per-decl (e.g. a column type xxhash64 rejects);
                # the count is still a valid timing floor for that decl.
                pass
        df.count()

    # SPARK_GRAFT_SWEEP_GC=1 nudges the JVM between decls so the
    # ContextCleaner releases the previous decl's dead localCheckpoint
    # blocks before the next timing starts.  At sf0.1 the accumulated
    # blocks are too small to matter (and the committed snapshot was
    # recorded without the nudge — keep it off for snapshot-comparable
    # runs); at generated decades they distort later decls by up to 10x
    # (sf1: c64 68.9 s polluted vs 7.2 s fresh vs 14.1 s with the nudge).
    gc_between = os.environ.get("SPARK_GRAFT_SWEEP_GC") == "1"
    timings: dict[str, float | str] = {}
    failed = False
    for name, fn in queries.items():
        t0 = time.perf_counter()
        try:
            run_action(fn(spark, sf_dir))
            timings[name] = round(time.perf_counter() - t0, 2)
        except Exception as exc:  # surface, keep sweeping
            timings[name] = f"ERR: {str(exc)[:120]}"
            failed = True
        if gc_between:
            spark._jvm.System.gc()  # noqa: SLF001
    total = round(sum(v for v in timings.values() if isinstance(v, float)), 1)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "action": action_kind,
                "total_sec": total,
                "n": len(timings),
                "queries": timings,
            }
        )
    )
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
