"""Sampled exact oracle for c33_minhash_jvm at ANY scale factor.

DuckDB cannot express Spark's xxhash64/Murmur3 hash family, so c33 has no
SQL oracle and was rows-only in the driver's correctness gate. This tool
value-verifies it anyway: a deterministic doc_id sample (spread across the
corpus via a modulus stride) is pulled from BOTH sides —

- Spark: ``minhash_bands_jvm(documents)`` filtered to the sampled ids
  (the filter composes with the plan; only 8 rows per sampled doc are
  collected, so cost never scales with the corpus), plus a full COUNT(*)
  of the banded output as a structural check (must be 8 x n_docs);
- reference: a scalar pure-Python recomputation from the public XXH64 /
  Murmur3_x86_32 specs (tests/reference_hashes.py) over the same docs'
  raw text.

Exact per-row equality on the sample + the structural count pins the JVM
whole-stage-codegen pipeline (shingle -> xxhash64 -> pmod -> a*h+b ->
array_min -> banded Murmur3) at scales the full-corpus pytest (sf0.001)
cannot reach.

    python tools/minhash_oracle_check.py --sf-dir testdata_sf100 --sample 200
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_engineering_zoomcamp_my_test_spark.operators.dedup import minhash_bands_jvm
from data_engineering_zoomcamp_my_test_spark.session import EngineConfig, get_spark
from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table
from tests.reference_hashes import minhash_bands_ref


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--sample", type=int, default=200)
    args = ap.parse_args()

    t0 = time.time()
    spark = get_spark(EngineConfig(app_name="minhash-oracle-check"))
    docs = load_table(spark, args.sf_dir, "documents")
    n_docs = docs.count()
    stride = max(n_docs // args.sample, 1)

    sampled = docs.filter(F.col("doc_id") % stride == 0).select("doc_id", "text")
    texts = {r["doc_id"]: r["text"] for r in sampled.collect()}
    if not texts:
        print(json.dumps({"ok": False, "err": "empty sample"}))
        return 2

    bands = minhash_bands_jvm(docs)
    total_rows = bands.count()
    got_rows = bands.filter(F.col("doc_id") % stride == 0).collect()
    got: dict[int, list[tuple[int, int]]] = {}
    for r in got_rows:
        got.setdefault(r["doc_id"], []).append((r["band"], r["band_hash"]))

    mismatches = []
    for doc_id, text in texts.items():
        expect = minhash_bands_ref(text)
        actual = sorted(got.get(doc_id, []))
        if actual != expect:
            mismatches.append(doc_id)

    structural_ok = total_rows == 8 * n_docs
    ok = not mismatches and set(got) == set(texts) and structural_ok
    print(
        json.dumps(
            {
                "ok": ok,
                "sf_dir": args.sf_dir,
                "n_docs": n_docs,
                "banded_rows": total_rows,
                "structural_8x": structural_ok,
                "sampled_docs": len(texts),
                "mismatched_docs": mismatches[:20],
                "sec": round(time.time() - t0, 1),
            }
        )
    )
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
