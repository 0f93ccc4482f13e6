"""Fixed-seed slice of the streaming-replay fuzzer (tools/fuzz_streaming.py).

Campaign evidence lives in BASELINE.md; this slice pins the generator
contract (determinism, safe-domain invariants for the watermark-lossy
operator families) and drives ONE cheap fixed replay end-to-end so the
fuzzer's compare plumbing stays green in CI.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.fuzz_streaming import (
    OPERATORS,
    SESSION_SAFE_WATERMARKS,
    gen_case,
    run_case,
)

SEED = "ci"


def test_case_generator_is_deterministic():
    a = [gen_case(SEED, i) for i in range(40)]
    b = [gen_case(SEED, i) for i in range(40)]
    assert a == b


def test_every_operator_reachable_with_sql_oracle():
    seen = set()
    for name in OPERATORS:
        got, p = gen_case(SEED, 0, ops=[name])
        assert got == name
        sql = OPERATORS[name]["oracle"](p)
        assert sql.strip().upper().startswith(("SELECT", "WITH"))
        seen.add(name)
    assert seen == set(OPERATORS)


def test_lossy_families_stay_inside_exactness_domain():
    """Session and attribution draws must be single-batch or carry a
    watermark covering the ~30-day event span (the measured domain where
    complete-mode/append-mode state loss cannot occur)."""
    for i in range(400):
        name, p = gen_case(SEED, i)
        if name not in ("session", "attribution"):
            continue
        single_batch = p["n_files"] <= p["max_files_per_trigger"]
        assert single_batch or p["watermark"] in SESSION_SAFE_WATERMARKS, (i, p)


def test_dedup_draws_always_carry_full_span_watermark():
    """Redelivered copies of early events arrive in LATER micro-batches by
    construction (stamped mtimes), so a tight watermark would late-drop
    them in append mode; every dedup draw must use a span-covering
    watermark — there is no single-batch escape for this op."""
    seen = 0
    for i in range(400):
        name, p = gen_case(SEED, i)
        if name != "dedup":
            continue
        seen += 1
        assert p["watermark"] in SESSION_SAFE_WATERMARKS, (i, p)
        assert p["dup_factor"] in (2, 3), (i, p)
    assert seen > 0


def test_sliding_slide_never_exceeds_window():
    for i in range(400):
        name, p = gen_case(SEED, i)
        if name == "sliding":
            assert p["slide_minutes"] <= p["window_minutes"], (i, p)


def test_fixed_cheap_replay_matches_oracle(spark, sf_small):
    """One deterministic tumbling replay through the full fuzzer path
    (land -> stream -> parquet sink -> DuckDB compare)."""
    from tests.oracle import compare

    p = {
        "window_minutes": 90,
        "n_files": 4,
        "max_files_per_trigger": 2,  # two genuine micro-batches
        "order": "reverse_time",
        "watermark": "0 seconds",
    }
    df = run_case(spark, sf_small, "tumbling", p, tag="ci")
    res = compare("sfuzz_ci", df, OPERATORS["tumbling"]["oracle"](p), sf_small)
    assert res.ok, res.mismatches


def test_fixed_cheap_dedup_replay_matches_oracle(spark, sf_small):
    """One deterministic redelivery-dedup replay through the full fuzzer
    path (c87's epoch-scoped parquet sink): 2 drop files each delivered
    twice (the copies stamped with later mtimes so they land in LATER
    micro-batches), and the streamed dropDuplicatesWithinWatermark output
    must equal the base corpus."""
    from tests.oracle import compare

    p = {
        "dup_factor": 2,
        "n_files": 2,
        "max_files_per_trigger": 1,  # 4 files -> four genuine micro-batches
        "order": "hash",
        "watermark": SESSION_SAFE_WATERMARKS[0],
    }
    df = run_case(spark, sf_small, "dedup", p, tag="ci_dedup")
    res = compare("sfuzz_ci_dedup", df, OPERATORS["dedup"]["oracle"](p), sf_small)
    assert res.ok, res.mismatches
    # ADVICE r9: the replay must actually CROSS batches — redelivered copies
    # arriving in a later micro-batch than their originals is the keyed-state
    # path this op exists to test. 2 base + 2 redelivered files at
    # maxFilesPerTrigger=1 must run as (at least) 4 batches, not 1.  The
    # count comes from recentProgress numInputRows>0: redelivery batches
    # consume input rows but emit ZERO output rows, so counting sink epochs
    # would under-count (ADVICE r11).
    from tools.fuzz_streaming import LAST_BATCH_COUNTS

    assert LAST_BATCH_COUNTS["ci_dedup"] >= 4, LAST_BATCH_COUNTS


def test_fixed_epoch_parquet_dedup_counts_input_batches(spark, sf_small):
    """Three deliveries of each drop (dup_factor=3) in reverse_time order
    through the epoch-scoped parquet sink.  The two redelivery rounds
    consume input rows but emit zero output rows, so only a count of
    input-carrying batches (recentProgress numInputRows>0) sees all six
    files: 2 base + 4 redelivered at maxFilesPerTrigger=1 -> >= 6."""
    from tests.oracle import compare
    from tools.fuzz_streaming import LAST_BATCH_COUNTS

    p = {
        "dup_factor": 3,
        "n_files": 2,
        "max_files_per_trigger": 1,
        "order": "reverse_time",
        "watermark": SESSION_SAFE_WATERMARKS[0],
    }
    df = run_case(spark, sf_small, "dedup", p, tag="ci_dedup_epoch")
    res = compare(
        "sfuzz_ci_dedup_epoch", df, OPERATORS["dedup"]["oracle"](p), sf_small
    )
    assert res.ok, res.mismatches
    assert LAST_BATCH_COUNTS["ci_dedup_epoch"] >= 6, LAST_BATCH_COUNTS


def test_fixed_attribution_epoch_replay_late_arrival(spark, sf_small):
    """c86 parameter-space slice (VERDICT r11 #5): the epoch-scoped
    exactly-once replay of the stream-STREAM interval join, with a
    NON-default attribution window (45 min), reverse_time arrival (the
    latest events land in the FIRST micro-batch, so every later batch
    delivers join partners for state already resident on both sides) and
    a full-span watermark — the adversarial corner of the exactness
    domain, multi-batch pinned."""
    from tests.oracle import compare
    from tools.fuzz_streaming import LAST_BATCH_COUNTS

    p = {
        "attr_minutes": 45,
        "n_files": 4,
        "max_files_per_trigger": 1,
        "order": "reverse_time",
        "watermark": SESSION_SAFE_WATERMARKS[0],
    }
    df = run_case(spark, sf_small, "attribution", p, tag="ci_attr_epoch")
    res = compare(
        "sfuzz_ci_attr_epoch",
        df,
        OPERATORS["attribution"]["oracle"](p),
        sf_small,
    )
    assert res.ok, res.mismatches
    assert LAST_BATCH_COUNTS["ci_attr_epoch"] >= 4, LAST_BATCH_COUNTS


def test_reverse_time_drops_have_deterministic_arrival_order(spark, sf_small, tmp_path):
    """ADVICE r8: reverse_time must actually EXERCISE latest-events-first.

    A single n-part write gives all part files one mtime and Spark's file
    source orders same-mtime files arbitrarily, so the claimed coverage
    was best-effort. The lander now stamps each slice with a strictly
    increasing mtime; pin that the ascending-mtime listing (the source's
    read order) walks DESCENDING event time."""
    from pyspark.sql import functions as F

    from tools.fuzz_streaming import _land_drops

    drop_dir = str(tmp_path / "rt_drops")
    _land_drops(spark, sf_small, {"n_files": 4, "order": "reverse_time"}, drop_dir)

    parts = [
        os.path.join(drop_dir, f)
        for f in os.listdir(drop_dir)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    assert len(parts) == 4
    mtimes = sorted(os.path.getmtime(p) for p in parts)
    assert len(set(mtimes)) == 4, "mtimes must be distinct"
    assert all(b - a >= 1.0 for a, b in zip(mtimes, mtimes[1:]))

    spans = []
    for p in sorted(parts, key=os.path.getmtime):
        row = (
            spark.read.parquet(p)
            .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
            .head()
        )
        if row["lo"] is not None:
            spans.append((row["lo"], row["hi"]))
    # earliest-mtime (first-read) slice holds the LATEST events; each later
    # slice is strictly earlier in event time (range-sliced, no overlap)
    for (lo_a, _), (_, hi_b) in zip(spans, spans[1:]):
        assert lo_a > hi_b, "read order must walk descending event time"


def test_fixed_upsert_replay_matches_oracle_across_batches(spark, sf_small):
    """One deterministic latest-wins MERGE replay (c89's op) through the
    full fuzzer path: 2 drop files + full redelivery in reverse_time
    order at maxFilesPerTrigger=1, so the merge crosses >=4 genuine
    micro-batches AND the latest events arrive FIRST (the hardest order
    for latest-wins — every later batch tries to overwrite with older
    rows and must lose). Final table must equal the batch
    latest-per-user answer."""
    from tests.oracle import compare
    from tools.fuzz_streaming import LAST_BATCH_COUNTS

    p = {
        "dup_factor": 2,
        "n_files": 2,
        "max_files_per_trigger": 1,
        "order": "reverse_time",
        "watermark": "35 days",  # drawn but unused: no watermark in the op
    }
    df = run_case(spark, sf_small, "upsert", p, tag="ci_upsert")
    res = compare(
        "sfuzz_ci_upsert", df, OPERATORS["upsert"]["oracle"](p), sf_small
    )
    assert res.ok, res.mismatches
    assert LAST_BATCH_COUNTS["ci_upsert"] >= 4, LAST_BATCH_COUNTS
