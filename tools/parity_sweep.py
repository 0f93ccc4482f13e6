"""Value-verify EVERY oracle-bearing decl against DuckDB at any SF dir.

The driver's correctness gate runs at sf0.01; this tool runs the same
compare at GENERATED decades (testdata_sf1/sf10/...) where scale-dependent
divergence lives — partition-order effects, overflow, FP tie-breaks at
percentile boundaries (the c82 was_clipped bug was found exactly this way).

For decls whose full result exceeds the driver's collect ceiling, the
compare automatically falls back to ``tests.oracle.compare_digest`` —
COUNT + per-column exact aggregates computed engine-side in BOTH engines,
so verification cost never scales with the result. Decls whose DuckDB
oracle is itself output-quadratic (the pair LISTs) are skipped via
--skip and must be covered by their bounded count/cluster twins.

    python tools/parity_sweep.py --sf-dir testdata_sf1
    python tools/parity_sweep.py --sf-dir testdata_sf10 \
        --skip c17_jaccard_pairs c56_ngram_jaccard_pairs
    python tools/parity_sweep.py --sf-dir testdata_sf100 --only b3_groupby_agg c1_dedup_exact

Prints one line per decl and a final JSON summary; exit nonzero on any
FAIL or ERR.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_zoomcamp_my_test_spark.operators import all_oracle_sql, all_queries
from data_engineering_zoomcamp_my_test_spark.session import EngineConfig, get_spark

# Pair-LIST contracts: their DuckDB oracle is an all-pairs join, quadratic
# in the copy ratio — unrunnable at generated decades regardless of how the
# Spark side plans. Their cardinality is pinned by the copy-linear c57
# count; skip them by default above sf0.1.
DEFAULT_SKIP = ("c17_jaccard_pairs", "c56_ngram_jaccard_pairs")


def main() -> int:
    from tests.oracle import compare, compare_digest, comparator_unsafe_fields

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument("--skip", nargs="*", default=list(DEFAULT_SKIP))
    args = ap.parse_args()

    spark = get_spark(EngineConfig(app_name="parity_sweep"))
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracles = all_queries(), all_oracle_sql()
    names = sorted(args.only) if args.only else sorted(oracles)
    unknown = [n for n in names if n not in oracles]
    if unknown:
        raise SystemExit(f"parity_sweep: no oracle for {unknown}")

    counts = {"ok": 0, "ok_digest": 0, "fail": 0, "skip": 0, "err": 0}
    failures: list[str] = []
    for n in names:
        if n in (args.skip or ()):
            print(f"skip {n} (listed)", flush=True)
            counts["skip"] += 1
            continue
        t0 = time.time()
        print(f"run  {n} ...", flush=True)
        try:
            df = queries[n](spark, args.sf_dir)
            # Mirror the DRIVER comparator's known limits: its _canon crashes
            # on nested cells (r8: c38/c39 err, unhashable numpy.ndarray), so
            # a sweep pass here would NOT predict a driver pass. Reject the
            # decl outright — explode to scalar rows or digest before seating.
            unsafe = comparator_unsafe_fields(df.schema)
            if unsafe:
                print(
                    f"ERR  {n}: comparator-unsafe output column(s) {unsafe} "
                    f"(driver _canon cannot canonicalize nested cells; "
                    f"posexplode or digest the projection)",
                    flush=True,
                )
                counts["err"] += 1
                failures.append(n)
                continue
            res = compare(n, df, oracles[n], args.sf_dir)
            mode = "hash"
        except Exception as exc:
            if "maxResultSize" not in str(exc):
                print(f"ERR  {n}: {str(exc)[:160]}", flush=True)
                counts["err"] += 1
                failures.append(n)
                continue
            # result too large to collect -> engine-side digest; the
            # fallback gets its own guard so a digest-path error (e.g.
            # unsupported column type) records ERR and the sweep continues
            # instead of aborting wholesale.
            try:
                res = compare_digest(
                    n, queries[n](spark, args.sf_dir), oracles[n], args.sf_dir
                )
            except Exception as dexc:
                print(f"ERR  {n} (digest): {str(dexc)[:160]}", flush=True)
                counts["err"] += 1
                failures.append(n)
                continue
            mode = "digest"
        dt = time.time() - t0
        if res.ok:
            counts["ok_digest" if mode == "digest" else "ok"] += 1
            print(f"ok   {n} ({mode}, {dt:.1f}s, {res.row_count_spark} rows)", flush=True)
        else:
            counts["fail"] += 1
            failures.append(n)
            print(f"FAIL {n} ({mode}): {res.mismatches[:2]}", flush=True)
    print(json.dumps({"sf_dir": args.sf_dir, **counts, "failures": failures,
                      "n": len(names), "queries": {}}))
    return 1 if counts["fail"] or counts["err"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
