"""Exact full-output oracle for c6_lsh_dup_pairs at ANY scale factor.

The LSH candidate-pair list has no DuckDB oracle (Spark's xxhash64 /
Murmur3 family is inexpressible there), so its driver row is rows-only
and its value evidence was the sf0.001 row-for-row reference test plus
recall property tests. This tool value-verifies the decl's FULL output
at generated decades (VERDICT r8 #7), where the corpus is copy-heavy
(sf100: 5M docs, ~5k distinct texts, ~5 BILLION output pairs) and the
output can never be collected. Two independent layers:

1. **Rep-level pair set, row-for-row.** The engine's exact-copy collapse
   means every pair decision is made once per distinct text.  The
   reference side recomputes the complete distinct-text pair set with
   the pure-Python XXH64/Murmur3 implementation
   (tests/reference_hashes.py, public-spec reimplementation) — bucket by
   (band, band_hash), emit co-bucketed pairs — and the Spark side runs
   ``lsh_candidate_pairs(reps, collapse_exact=False)`` on the same
   representatives.  Exact set equality, cost ~ distinct texts, not
   corpus size.

2. **Expanded output, exact moment digest.** The decl's published pair
   list (cross-group and intra-group expansion of layer 1's pairs) is
   reduced engine-side to exact DECIMAL(38,0) moments — COUNT,
   SUM(a), SUM(b), SUM(a*a), SUM(b*b), SUM(a*b), MIN(a), MAX(b) —
   while the reference computes the SAME moments analytically from the
   copy-group id lists without enumerating pairs (for a sorted group,
   sum-of-pair-mins is a rank-weighted sum; across groups, sum of
   a*b factorizes into S_A * S_B; min*max == a*b makes the cross
   moment exact).  Any wrong, missing, or duplicated pair in ~5B rows
   moves at least one moment.

    python tools/lsh_pairs_check.py --sf-dir testdata_sf100
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import functions as F

from data_engineering_zoomcamp_my_test_spark.operators import all_queries
from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
    lsh_candidate_pairs,
)
from data_engineering_zoomcamp_my_test_spark.session import EngineConfig, get_spark
from tests.reference_hashes import minhash_bands_ref

DEC = "decimal(38,0)"


def _copy_groups(sf_dir: str) -> list[tuple[str, list[int]]]:
    """[(text, sorted doc_ids)] per distinct non-null text — read with
    DuckDB so the reference side never touches the engine under test."""
    path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT text, list_sort(list(doc_id)) AS ids
        FROM read_parquet('{path}')
        WHERE text IS NOT NULL
        GROUP BY text
        """
    ).fetchall()
    con.close()
    return [(t, list(ids)) for t, ids in rows]


def _ref_rep_pairs(groups: list[tuple[str, list[int]]]) -> set[tuple[int, int]]:
    """Distinct-text pair set under the reference minhash/banding."""
    buckets: dict[tuple[int, int], list[int]] = {}
    for text, ids in groups:
        rep = ids[0]
        for band, band_hash in minhash_bands_ref(text):
            buckets.setdefault((band, band_hash), []).append(rep)
    pairs: set[tuple[int, int]] = set()
    for ids in buckets.values():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs


def _ref_moments(
    groups: list[tuple[str, list[int]]], rep_pairs: set[tuple[int, int]]
) -> dict[str, int]:
    """Exact moments of the expanded pair set, no pair enumeration."""
    by_rep = {ids[0]: ids for _, ids in groups}
    n = s_a = s_b = s_aa = s_bb = s_ab = 0
    mn = None
    mx = None

    def _feed(cnt, sa, sb, saa, sbb, sab, lo, hi):
        nonlocal n, s_a, s_b, s_aa, s_bb, s_ab, mn, mx
        n += cnt
        s_a += sa
        s_b += sb
        s_aa += saa
        s_bb += sbb
        s_ab += sab
        mn = lo if mn is None else min(mn, lo)
        mx = hi if mx is None else max(mx, hi)

    # intra-group pairs: every (i < j) combination within a copy group
    for _, ids in groups:
        g = len(ids)
        if g < 2:
            continue
        S = sum(ids)
        Q = sum(x * x for x in ids)
        # ids sorted ascending: ids[i] is the min of its pairs with all
        # later members (g-1-i of them) and the max with all earlier (i)
        sa = sum(x * (g - 1 - i) for i, x in enumerate(ids))
        sb = sum(x * i for i, x in enumerate(ids))
        saa = sum(x * x * (g - 1 - i) for i, x in enumerate(ids))
        sbb = sum(x * x * i for i, x in enumerate(ids))
        _feed(g * (g - 1) // 2, sa, sb, saa, sbb, (S * S - Q) // 2, ids[0], ids[-1])

    # cross-group pairs: full bipartite expansion of each rep pair
    for ra, rb in rep_pairs:
        A, B = by_rep[ra], by_rep[rb]
        # merge-walk: for each a in A, partners in B split at a
        merged = sorted(
            [(x, 0) for x in A] + [(x, 1) for x in B]
        )  # doc_ids are globally unique
        seen_cnt = [0, 0]
        tot_cnt = [len(A), len(B)]
        tot_sum = [sum(A), sum(B)]
        sa = sb = saa = sbb = 0
        for x, side in merged:
            other = 1 - side
            later_cnt = tot_cnt[other] - seen_cnt[other]
            # walking ascending: x is the MIN of its pairs with the other
            # side's not-yet-seen members and the MAX of its pairs with the
            # other side's already-seen members — each pair's min lands when
            # its smaller id is walked, its max when its larger id is.
            sa += x * later_cnt
            sb += x * seen_cnt[other]
            saa += x * x * later_cnt
            sbb += x * x * seen_cnt[other]
            seen_cnt[side] += 1
        _feed(
            tot_cnt[0] * tot_cnt[1],
            sa,
            sb,
            saa,
            sbb,
            tot_sum[0] * tot_sum[1],
            min(A[0], B[0]),
            max(A[-1], B[-1]),
        )

    return {
        "n_pairs": n,
        "sum_a": s_a,
        "sum_b": s_b,
        "sum_aa": s_aa,
        "sum_bb": s_bb,
        "sum_ab": s_ab,
        "min_a": mn,
        "max_b": mx,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    args = ap.parse_args()

    t0 = time.time()
    groups = _copy_groups(args.sf_dir)
    rep_pairs = _ref_rep_pairs(groups)
    t_ref_pairs = time.time() - t0
    print(
        f"reference: {len(groups)} distinct texts, {len(rep_pairs)} rep pairs "
        f"({t_ref_pairs:.1f}s)",
        flush=True,
    )

    t1 = time.time()
    ref = _ref_moments(groups, rep_pairs)
    print(f"reference moments ({time.time() - t1:.1f}s): {ref}", flush=True)

    spark = get_spark(EngineConfig(app_name="lsh_pairs_check"))
    spark.sparkContext.setLogLevel("ERROR")

    # Layer 1: rep-level pair set, row-for-row (cost ~ distinct texts).
    t2 = time.time()
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    full = load_table(spark, args.sf_dir, "documents")
    reps = (
        full.filter(F.col("text").isNotNull())
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
    )
    got_rep = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in lsh_candidate_pairs(reps, collapse_exact=False).collect()
    }
    rep_ok = got_rep == rep_pairs
    print(
        f"layer1 rep pairs: spark {len(got_rep)} vs ref {len(rep_pairs)} "
        f"-> {'OK' if rep_ok else 'MISMATCH'} ({time.time() - t2:.1f}s)",
        flush=True,
    )

    # Layer 2: full expanded decl output, engine-side exact moments.
    t3 = time.time()
    pairs = all_queries()["c6_lsh_dup_pairs"](spark, args.sf_dir)
    a = F.col("doc_id_a").cast(DEC)
    b = F.col("doc_id_b").cast(DEC)
    row = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(a).alias("sum_a"),
        F.sum(b).alias("sum_b"),
        F.sum(a * a).alias("sum_aa"),
        F.sum(b * b).alias("sum_bb"),
        F.sum(a * b).alias("sum_ab"),
        F.min("doc_id_a").alias("min_a"),
        F.max("doc_id_b").alias("max_b"),
    ).head()
    got = {k: int(row[k]) for k in ref}
    mom_ok = got == ref
    print(
        f"layer2 moments ({time.time() - t3:.1f}s): "
        f"{'OK' if mom_ok else 'MISMATCH'}",
        flush=True,
    )
    if not mom_ok:
        for k in ref:
            if got[k] != ref[k]:
                print(f"  {k}: spark {got[k]} != ref {ref[k]}", flush=True)

    out = {
        "metric": "lsh_pairs_check",
        "sf_dir": args.sf_dir,
        "distinct_texts": len(groups),
        "rep_pairs": len(rep_pairs),
        "n_pairs": ref["n_pairs"],
        "rep_set_exact": rep_ok,
        "moments_exact": mom_ok,
        "elapsed_s": round(time.time() - t0, 1),
    }
    print(json.dumps(out))
    return 0 if rep_ok and mom_ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
