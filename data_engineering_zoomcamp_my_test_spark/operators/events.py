"""Event-stream batch operators over ``events`` (SURVEY.md §2.3 C7-C10):
tumbling/sliding windows, sessionization, JSON extraction.

The batch shapes here are the exact groupBy analogs of the Structured
Streaming operators in streaming/windows.py — same window semantics
(epoch-aligned, [start, end)), so batch results replay-match streaming ones.

Window starts are surfaced as epoch microseconds (BIGINT) rather than raw
timestamps: deterministic, timezone-free, and engine-portable.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.exprs import MONEY_SUM_VALUE, dmoney_sum, money
from ..lineage import cut as lineage_cut
from ..sources.tables import load_table
from ..streaming.stateful import streaming_user_ledger_exact
from ..streaming.windows import (
    batch_view_purchase_attribution,
    run_streaming_attribution_replay,
    run_streaming_dedup_replay,
    run_streaming_latest_state_replay,
    run_streaming_session_agg,
    run_streaming_sliding_agg,
    run_streaming_tumbling_agg,
    stream_width,
)
from ..tmpdirs import ephemeral_dir

SESSION_GAP_MINUTES = 30


def _drop_width(spark: SparkSession, sf_dir: str, floor_n: int = 4) -> int:
    """Landing width for the streaming replay drop files of ``events``:
    ``stream_width`` over the events table, floored at the decl's
    documented micro-batch minimum — the replays run
    ``maxFilesPerTrigger=1``, so drop-file count == micro-batch count and
    the cross-batch state-merge evidence needs >= ``floor_n`` batches. At
    every test SF the events table sits far below one 32 MB chunk, so the
    drop layout (and each replay's micro-batch structure) is the floor,
    as it is when the table's size is unknown.
    Replay exactness is slicing-invariant by construction (complete-mode/
    watermark arguments in each decl's docstring, fuzzed across random
    slicings in tools/fuzz_streaming.py), so the width moves only cost,
    never results."""
    path = os.path.join(sf_dir, "events.parquet")
    return stream_width(spark, path, floor_n) or floor_n


def c7_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dmoney_sum(money("value"), "total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start_us", "event_type")
    )


def c8_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dmoney_sum(money("value"), "total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "total_value",
        )
        .orderBy("window_start_us")
    )


def sessionize(
    ev: DataFrame, gap_minutes: int = SESSION_GAP_MINUTES
) -> DataFrame:
    """Gap-based sessions: a new session starts when the time since the
    user's previous event exceeds the gap. Lag + running-sum formulation —
    one shuffle keyed by user, deterministic total order within user."""
    gap_us = gap_minutes * 60 * 1_000_000
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    prev_us = F.lag(ts_us).over(w)
    new_session = F.when(
        prev_us.isNull() | ((ts_us - prev_us) > gap_us), 1
    ).otherwise(0)
    return (
        ev.withColumn("session_seq", F.sum(new_session).over(w))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min(ts_us).alias("session_start_us"),
            F.max(ts_us).alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
            dmoney_sum(money("value"), "total_value"),
        )
    )


def c9_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events")).select(
        "user_id",
        "session_seq",
        "session_start_us",
        "session_end_us",
        "n_events",
        "total_value",
    )


def c44_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level conversion funnel: per user, how many sessions, how
    many contained a view, how many converted (view AND purchase in the
    same session). Sessionization window + conditional aggregation — the
    standard product-analytics composition."""
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    prev_us = F.lag(ts_us).over(w)
    new_session = F.when(
        prev_us.isNull() | ((ts_us - prev_us) > gap_us), 1
    ).otherwise(0)
    sessions = (
        ev.withColumn("session_seq", F.sum(new_session).over(w))
        .groupBy("user_id", "session_seq")
        .agg(
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("has_view"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("has_purchase"),
        )
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("has_view").alias("n_view_sessions"),
            F.sum(
                F.when((F.col("has_view") == 1) & (F.col("has_purchase") == 1), 1).otherwise(0)
            ).alias("n_converted"),
        )
    )


def resample_ffill(
    events: DataFrame,
    bucket_s: int = 3600,
    user_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Time-series resampling to a fixed grid with forward fill — the
    gap-filling operator relational engines lack natively: per key, a
    dense bucket grid spans that key's observed range; buckets with
    observations carry their bucket MAX; empty buckets inherit the last
    observed value (``is_gap`` marks them).

    Scale: each branch pays exactly one key-partitioned shuffle of its
    column-pruned scan (span reads (key, ts); obs reads (key, ts, val)),
    after which HashPartitioning(key) satisfies every downstream
    distribution: the (key, bucket) rollup and the span aggregate cluster
    by a superset of the partition key, the grid-obs join co-locates (AQE
    broadcasts the aggregated side while it fits, demotes to the
    co-partitioned merge join at scale — plan-audited), and the fill
    window partitions by the same key. The grid explode's size
    is keys x (span / grain) — independent of event count, bounded by the
    grain choice, and generated JVM-side (``sequence``/``explode``, no
    Python). Leading buckets are always observed (grids start at each
    key's first observation), so the IGNORE NULLS fill is total."""
    b = F.expr(f"unix_micros({ts_col}) div 1000000 div {bucket_s}")
    obs = (
        events.select(user_col, b.alias("b"), F.col(val_col))
        .repartition(user_col)
        .groupBy(user_col, "b")
        .agg(F.max(val_col).alias("v_obs"))
    )
    grid = (
        obs.groupBy(user_col)
        .agg(F.min("b").alias("mn"), F.max("b").alias("mx"))
        .select(user_col, F.explode(F.sequence("mn", "mx")).alias("b"))
    )
    w = (
        W.partitionBy(user_col)
        .orderBy("b")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(obs, [user_col, "b"], "left")
        .select(
            user_col,
            (F.col("b") * bucket_s).cast("long").alias("bucket_epoch_s"),
            F.last("v_obs", ignorenulls=True).over(w).alias("v_filled"),
            F.col("v_obs").isNull().alias("is_gap"),
        )
    )


def c61_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-user grid with forward fill over the events stream."""
    return resample_ffill(load_table(spark, sf_dir, "events"), bucket_s=3600)


def c51_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-enforced JSON parsing (vs c10's path extraction): from_json
    projects the props string through a declared struct schema. ``parsed_ok``
    means "parsed as the declared OBJECT schema" — detected via the
    corrupt-record column, because PERMISSIVE mode returns a non-null
    struct even for garbage like ``{bad`` (a bare ``isNotNull()`` misses
    malformed documents). Valid-but-non-object JSON (arrays, scalars) is
    parsed_ok = false by design: the contract is the schema, not mere
    syntactic validity — the oracle mirrors exactly that with
    ``json_valid AND json_type = 'OBJECT'``."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json(
        "props",
        "k bigint, _corrupt string",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k_val"),
        (parsed.isNotNull() & parsed.getField("_corrupt").isNull()).alias(
            "parsed_ok"
        ),
    )


def c10_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


def c21_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("k_sum"),
            (F.sum(k).cast("double") / F.count(F.lit(1))).alias("k_avg"),
        )
        .orderBy("event_type")
    )


def mad_anomaly(ev: DataFrame, threshold: float = 3.5) -> DataFrame:
    """Robust volume-anomaly detection: hours whose event count deviates
    from the per-type median by more than ``threshold`` median absolute
    deviations (the Iglewicz-Hoberg modified z-score test, the standard
    monitor for pipeline-volume regressions — robust where mean/stddev
    z-scores are dragged by the very outliers they should flag). Exact
    medians (linear-interpolated percentile, identical definition in both
    engines), so the result is reproducible on any cluster layout. When
    MAD degenerates to 0 (a majority-uniform series — exactly where a
    planted spike must still be caught), the scale falls back to
    1.253314 x mean absolute deviation per Iglewicz-Hoaglin; a perfectly
    uniform series has every deviation 0 and flags nothing. The mean-AD
    is itself deterministic here: deviations are exact half-integers
    (count minus an int-or-half median), so their distributed sum is
    exact in ANY order.

    Plan: ONE corpus-sized keyed shuffle (the hourly rollup); both median
    fits and the flag join run on the rolled-up (type x hour) table, which
    is orders of magnitude smaller than events and bounded by the time
    range — the median sort never sees raw events. Median tables broadcast
    back. Partial hours at the range edges are genuine low-volume outliers
    and are reported, not masked."""
    hourly = (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
        )
    )
    # ``hourly`` feeds the median fit AND the deviation join; Catalyst
    # inlines each reference, so without a lineage cut the corpus-sized
    # rollup (the ONE events pass this plan pays) executes twice. The
    # materialized relation is (type x hour) rows — calendar-bounded.
    hourly = hourly.transform(lineage_cut)
    med = hourly.groupBy("event_type").agg(
        F.percentile("n_events", F.lit(0.5)).alias("med")
    )
    dev = hourly.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("n_events") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("dev", F.lit(0.5)).alias("mad"),
        F.avg("dev").alias("_meanad"),
    )
    scale = F.when(F.col("mad") > 0, F.col("mad")).otherwise(
        F.lit(1.253314) * F.col("_meanad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .withColumn("_scale", scale)
        .filter(F.col("dev") > F.lit(threshold) * F.col("_scale"))
        .select(
            "event_type",
            "window_start_us",
            "n_events",
            F.round("med", 6).alias("med"),
            F.round("_scale", 6).alias("scale"),
            F.round(F.col("dev") / F.col("_scale"), 6).alias("dev_over_scale"),
        )
    )


def c77_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-volume anomalies per event type (3.5 MADs)."""
    return mad_anomaly(load_table(spark, sf_dir, "events"))


def c22_hourly_top_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event type per hour — window-over-windowed-agg composition."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    w = W.partitionBy("window_start_us").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        hourly.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("window_start_us", "event_type", "n_events")
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention matrix: users are cohorted by their first active
    ISO week; each (cohort, week offset) cell counts the cohort's users
    still active that week, with the retention share vs the cohort's own
    size — the canonical product-analytics rollup.

    Plan: one (user_id, week) distinct + one min-week aggregate share the
    user_id shuffle key; the cell rollup and the cohort-size join then run
    over WEEKS x OFFSETS rows (bounded by the calendar, not the event
    count — AQE broadcasts the size side). Week arithmetic stays in exact
    day-difference integer math, portable to the oracle."""
    wk = F.date_trunc("week", F.col("ts"))
    # ``active`` feeds the cohort aggregate AND the cell join (keyed on
    # (user, wk) vs user — no reusable exchange), and ``cells`` feeds the
    # size filter AND the final join: each inlined reference re-runs the
    # events scan + distinct. Cut both — active is (users x weeks) rows,
    # cells is calendar-bounded — so the corpus is scanned once.
    active = events.select("user_id", wk.alias("wk")).distinct().transform(lineage_cut)
    first = active.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    cells = (
        active.join(first, "user_id")
        .select(
            "user_id",
            "cohort",
            (F.datediff("wk", "cohort") / 7).cast("int").alias("week_offset"),
        )
        .groupBy("cohort", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .transform(lineage_cut)
    )
    size = cells.filter(F.col("week_offset") == 0).select(
        "cohort", F.col("n_users").alias("_size")
    )
    return (
        cells.join(size, "cohort")
        .select(
            F.unix_seconds(F.col("cohort")).alias("cohort_epoch_s"),
            "week_offset",
            F.col("n_users").cast("long").alias("n_users"),
            F.round(
                F.col("n_users").cast("double") / F.col("_size"), 6
            ).alias("retention"),
        )
    )


def c69_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return retention_cohorts(load_table(spark, sf_dir, "events"))


def c72_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-30-minutes view -> purchase attribution as a declared decl:
    the batch twin of the streaming interval join
    (``streaming/windows.py::batch_view_purchase_attribution``), promoted
    under the exact oracle. The interval predicate keeps the join keyed on
    user_id (equi part) with the time band as a residual condition — a
    sort-merge join per user, never a cross product; the streaming form of
    the same plan bounds its state with watermarks (test-verified)."""
    ev = load_table(spark, sf_dir, "events")
    out = batch_view_purchase_attribution(ev)
    return out.select(
        "p_user",
        "purchase_id",
        "view_id",
        F.unix_micros("view_ts").alias("view_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )


@contextmanager
def _event_drops(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    floor_n: int = 4,
    redeliver: str | None = None,
):
    """Land ``events`` as parquet file drops for a streaming replay decl and
    yield the drop dir; the drops are removed when the block exits (they
    are dead weight the moment the query stops).

    The landing width is ``_drop_width`` at ``floor_n``; the replays run
    ``maxFilesPerTrigger=1``, so each file is one micro-batch.
    ``redeliver`` models an at-least-once source: every base file is
    stamped 20 s in the past and then ``"all"`` of them, or only the
    ``"first"`` in name order, are copied to ``redeliver_<name>`` stamped
    now, so the ascending-mtime listing replays the copies in LATER
    micro-batches."""
    ev = load_table(spark, sf_dir, "events")
    drop_dir = ephemeral_dir(f"{tag}_drops_")
    try:
        ev.repartition(_drop_width(spark, sf_dir, floor_n)).write.mode(
            "overwrite"
        ).parquet(drop_dir)
        if redeliver is not None:
            base = sorted(f for f in os.listdir(drop_dir) if f.endswith(".parquet"))
            now = time.time()
            for fname in base:
                os.utime(os.path.join(drop_dir, fname), (now - 20.0, now - 20.0))
            for fname in base if redeliver == "all" else base[:1]:
                dst = os.path.join(drop_dir, f"redeliver_{fname}")
                shutil.copyfile(os.path.join(drop_dir, fname), dst)
                os.utime(dst, (now, now))
        yield drop_dir
    finally:
        shutil.rmtree(drop_dir, ignore_errors=True)


def _query_name(tag: str) -> str:
    return f"{tag}_out_{uuid.uuid4().hex[:8]}"


def c66_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of c7, as a DRIVER-VERIFIED decl: the
    events table is re-landed as micro-precision parquet file drops,
    replayed through the watermarked streaming aggregation
    (``streaming/windows.py`` — maxFilesPerTrigger micro-batches,
    complete mode, parquet sink), and the stream's FINAL state is
    returned. Because the final state of a complete-mode windowed agg
    over a replayed bounded source must equal the batch answer, this
    decl puts the streaming execution path itself under the exact DuckDB
    oracle (c7's SQL) — not just under the repo's own parity tests.

    maxFilesPerTrigger=1 over 4 hash-sliced drops makes the replay a
    genuine FOUR-micro-batch run (r8; previously 4 files in one trigger
    — a single batch, which exercised no cross-batch state merge at
    all). Time-window complete-mode aggregation is exact under ANY
    slicing/arrival-order/watermark combination — fuzzed over 30+ random
    draws incl. reverse-time arrival in tools/fuzz_streaming.py.

    The final state lands in a session-scoped ephemeral parquet sink: the
    returned DataFrame reads it lazily, and a driver-side sink cannot
    scale (c78's 95M-session state broke spark.driver.maxResultSize at
    sf100)."""
    with _event_drops(spark, sf_dir, "c66") as drops:
        return run_streaming_tumbling_agg(
            spark, drops, query_name=_query_name("c66"), max_files_per_trigger=1
        )


def c78_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL Structured Streaming sessionization under the exact
    oracle: events are re-landed as parquet file drops and replayed
    through the watermarked ``session_window`` streaming aggregation
    (``streaming/windows.py::run_streaming_session_agg`` — micro-batches,
    complete mode, parquet sink). The stream's final state must equal the
    batch/SQL answer over the bounded replay, so the *stateful* streaming
    path (session state merge across micro-batches — a strictly harder
    state machine than c66's tumbling windows) gets a DuckDB hash check,
    not just the repo's own batch-parity tests.

    r8 (found by tools/fuzz_streaming.py, mechanism isolated by a
    controlled-arrival experiment): unlike time windows, session-window
    aggregation FILTERS LATE INPUT by its watermark even in COMPLETE
    mode — rows older than the batch-start watermark are dropped before
    the merge (measured: 4-batch replay of sf0.001 with a 0s watermark
    loses sessions whenever arrival is out of order, e.g. 711 of 946;
    guaranteed-ascending arrival loses nothing, proving complete mode
    never EVICTS session state). Both arms pinned in
    tests/test_streaming.py. Exactness therefore requires the watermark
    to cover the replay's DISORDER under any arrival order: the events
    table spans ~30 days at every SF, so the 35-day watermark makes the
    4-micro-batch replay (maxFilesPerTrigger=1 — previously one trigger,
    which never exercised cross-batch merge) provably lossless while
    still driving the real session-merge state machine."""
    with _event_drops(spark, sf_dir, "c78") as drops:
        return run_streaming_session_agg(
            spark,
            drops,
            query_name=_query_name("c78"),
            watermark="35 days",
            max_files_per_trigger=1,
        )


def c80_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of c8 under the exact oracle: overlapping
    (1h window / 30min slide) windowed aggregation replayed over file
    drops — each event updates TWO window states per micro-batch, the
    overlap bookkeeping c66's tumbling case never exercises. Final
    complete-mode state must equal the batch/SQL answer.

    maxFilesPerTrigger=1 over 4 drops = a genuine 4-micro-batch replay
    (r8): each batch updates BOTH overlapping window states per event
    and merges into prior-batch state; fuzzed exact across random
    window/slide/slicing/order/watermark draws (tools/fuzz_streaming.py)."""
    with _event_drops(spark, sf_dir, "c80") as drops:
        return run_streaming_sliding_agg(
            spark, drops, query_name=_query_name("c80"), max_files_per_trigger=1
        )


def c86_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM twin of c72 under the exact oracle: the view->purchase
    interval join replayed over file drops — the first JOIN (two watermarked
    inputs, two-sided state, append output) in the exact-oracle streaming
    family, which until now covered only aggregations (c66/c78/c80).

    An inner interval join emits a pair as soon as both sides are present,
    so the replay equals the batch join iff no state expires early; the
    35-day watermark bounds the 30-day corpus' worst-case disorder, making
    the appended output exact under any slicing/arrival order (same
    exactness-domain argument as c78's session watermark). Append-mode
    output accumulates across epochs, so the replay lands each micro-batch
    in an epoch-scoped parquet dir (exactly-once under retry) instead of
    complete-mode's overwrite — see ``streaming/windows.py::_replay``,
    RocksDB state store for the two-sided join state.

    maxFilesPerTrigger=1 over 4 hash-sliced drops = a genuine
    4-micro-batch replay: views and purchases of the same pair routinely
    land in DIFFERENT batches, exercising the cross-batch join-state path."""
    with _event_drops(spark, sf_dir, "c86") as drops:
        out = run_streaming_attribution_replay(
            spark,
            drops,
            checkpoint=ephemeral_dir("c86_ckpt_"),
            sink_dir=ephemeral_dir("c86_state_"),
            query_name=_query_name("c86"),
            max_files_per_trigger=1,
        )
    return out.select(
        "p_user",
        "purchase_id",
        "view_id",
        F.unix_micros("view_ts").alias("view_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )


def c87_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once ingest dedup under the EXACT oracle: the events table
    is landed as 2 drop files, every file is then REDELIVERED (copied with
    a strictly later mtime so the ascending-mtime listing replays the
    copies in LATER micro-batches), and the replayed
    ``dropDuplicatesWithinWatermark`` output must equal the base corpus
    row-for-row — keyed seen-state carried ACROSS batches, the third state
    type in the exact-oracle streaming family (windowed agg state
    c66/c78/c80, join state c86, dedup state here).

    Copies are byte-identical rows, so which copy survives is immaterial;
    the 35-day watermark covers the corpus' 30-day span, so no seen-key
    expires before its redelivery arrives (the only way a duplicate could
    leak through). 4 files at maxFilesPerTrigger=1 = 4 genuine batches,
    redeliveries always in batches 3-4."""
    with _event_drops(spark, sf_dir, "c87", floor_n=2, redeliver="all") as drops:
        out = run_streaming_dedup_replay(
            spark,
            drops,
            checkpoint=ephemeral_dir("c87_ckpt_"),
            sink_dir=ephemeral_dir("c87_state_"),
            query_name=_query_name("c87"),
            max_files_per_trigger=1,
        )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
        "props",
    )


def c88_streaming_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful operator (``applyInPandasWithState``) under the
    EXACT oracle: the per-user running ledger replayed across micro-batches
    must end at the batch GROUP BY answer bit-for-bit. The state
    accumulates INTEGER CENTS (HALF_UP shortest-repr, the ``cents()``
    convention both engines share), so the running total is exact under
    any batching/arrival order and the final ``cents/100.0`` double equals
    ``CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)`` — promoting the
    arbitrary-Python-state path (SURVEY's most custom streaming surface,
    previously pytest-parity only) to driver-exact evidence. Update-mode
    emissions land per-epoch (exactly-once), final state = max running
    count per user; 4-file drop at maxFilesPerTrigger=1 = 4 genuine
    batches of state carry-over."""
    with _event_drops(spark, sf_dir, "c88") as drops:
        return streaming_user_ledger_exact(
            spark,
            drops,
            checkpoint=ephemeral_dir("c88_ckpt_"),
            sink_dir=ephemeral_dir("c88_state_"),
            query_name=_query_name("c88"),
            max_files_per_trigger=1,
        )


def c89_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE (latest-row-per-key upsert) under the EXACT oracle:
    events land as 4 drop files, replay at maxFilesPerTrigger=1 (4 genuine
    micro-batches of state carry-over), and the FIRST file is then
    REDELIVERED with a later mtime (a 5th, at-least-once batch) — the
    final state table must equal the batch latest-per-user answer
    row-for-row. Latest-wins is the total order (ts DESC, event_id DESC),
    so the merge is idempotent under redelivery and independent of
    batching — the CDC/upsert sink family (Delta MERGE INTO semantics),
    fourth member of the exact-oracle streaming family (windowed-agg
    state c66/c78/c80, join state c86, dedup state c87, custom ledger
    state c88)."""
    with _event_drops(spark, sf_dir, "c89", redeliver="first") as drops:
        out = run_streaming_latest_state_replay(
            spark,
            drops,
            checkpoint=ephemeral_dir("c89_ckpt_"),
            state_dir=ephemeral_dir("c89_state_"),
            query_name=_query_name("c89"),
            max_files_per_trigger=1,
        )
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


QUERIES = {
    "c7_tumbling": c7_tumbling,
    "c66_streaming_tumbling": c66_streaming_tumbling,
    "c69_retention_cohorts": c69_retention_cohorts,
    "c72_attribution_join": c72_attribution_join,
    "c8_sliding": c8_sliding,
    "c9_session": c9_session,
    "c10_json_extract": c10_json_extract,
    "c51_from_json": c51_from_json,
    "c21_json_agg": c21_json_agg,
    "c22_hourly_top_event": c22_hourly_top_event,
    "c77_mad_anomaly": c77_mad_anomaly,
    "c78_streaming_session": c78_streaming_session,
    "c80_streaming_sliding": c80_streaming_sliding,
    "c86_streaming_attribution": c86_streaming_attribution,
    "c87_streaming_dedup": c87_streaming_dedup,
    "c88_streaming_ledger": c88_streaming_ledger,
    "c89_streaming_upsert": c89_streaming_upsert,
    "c44_session_funnel": c44_session_funnel,
    "c61_resample_ffill": c61_resample_ffill,
}

# shared by the batch decl (c72) and its streaming replay twin (c86)
_ATTRIBUTION_ORACLE = """
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS view_ts
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id AS p_user, purchase_id, view_id,
           CAST(epoch_us(view_ts) AS BIGINT) AS view_us,
           CAST(epoch_us(purchase_ts) AS BIGINT) AS purchase_us
    FROM v JOIN p ON v.user_id = p.user_id
      AND purchase_ts >= view_ts
      AND purchase_ts <= view_ts + INTERVAL '30 minutes'
"""

ORACLE = {
    "c61_resample_ffill": """
        WITH obs AS (
          SELECT user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS b,
                 MAX(value) AS v_obs
          FROM events GROUP BY 1, 2
        ),
        span AS (SELECT user_id, MIN(b) AS mn, MAX(b) AS mx FROM obs GROUP BY 1),
        grid AS (
          SELECT user_id, unnest(generate_series(mn, mx)) AS b FROM span
        )
        SELECT g.user_id,
               CAST(g.b * 3600 AS BIGINT) AS bucket_epoch_s,
               last_value(o.v_obs IGNORE NULLS) OVER (
                 PARTITION BY g.user_id ORDER BY g.b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
               (o.v_obs IS NULL) AS is_gap
        FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.b = o.b
    """,
    "c72_attribution_join": _ATTRIBUTION_ORACLE,
    # the streaming replay's appended output must equal the batch interval
    # join exactly (watermark covers the replay's disorder — see the decl)
    "c86_streaming_attribution": _ATTRIBUTION_ORACLE,
    # redelivered-drop dedup must reduce to exactly the base corpus
    "c87_streaming_dedup": """
        SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
               event_type, value, props
        FROM events
    """,
    # the upsert table's final state must equal the batch latest-per-user
    # answer under the shared (ts DESC, event_id DESC) total order
    "c89_streaming_upsert": """
        SELECT user_id,
               event_id AS last_event_id,
               CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
               event_type AS last_event_type,
               value AS last_value
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) t WHERE rn = 1
    """,
    # the custom stateful ledger's final state must equal the batch rollup
    "c88_streaming_ledger": """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_value
        FROM events GROUP BY user_id
    """,
    "c69_retention_cohorts": """
        WITH active AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
        ),
        first AS (
          SELECT user_id, MIN(wk) AS cohort FROM active GROUP BY 1
        ),
        cells AS (
          SELECT cohort,
                 CAST(datediff('day', cohort, wk) / 7 AS INT) AS week_offset,
                 COUNT(DISTINCT a.user_id) AS n_users
          FROM active a JOIN first USING (user_id)
          GROUP BY 1, 2
        ),
        size AS (
          SELECT cohort, n_users AS sz FROM cells WHERE week_offset = 0
        )
        SELECT CAST(epoch(c.cohort) AS BIGINT) AS cohort_epoch_s,
               c.week_offset,
               CAST(c.n_users AS BIGINT) AS n_users,
               ROUND(CAST(c.n_users AS DOUBLE) / s.sz, 6) AS retention
        FROM cells c JOIN size s USING (cohort)
    """,
    "c7_tumbling": f"""
        SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS window_start_us,
               event_type, COUNT(*) AS n_events,
               {MONEY_SUM_VALUE} AS total_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    # The streaming twin must converge to the exact batch answer — same
    # oracle as c7 (driver compare is order-insensitive).
    "c66_streaming_tumbling": f"""
        SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS window_start_us,
               event_type, COUNT(*) AS n_events,
               {MONEY_SUM_VALUE} AS total_value
        FROM events GROUP BY 1, 2
    """,
    "c8_sliding": f"""
        WITH starts AS (
          SELECT time_bucket(INTERVAL '30 minutes', ts) AS w_start, value FROM events
          UNION ALL
          SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value
          FROM events
        )
        SELECT CAST(epoch_us(w_start) AS BIGINT) AS window_start_us,
               COUNT(*) AS n_events,
               {MONEY_SUM_VALUE} AS total_value
        FROM starts GROUP BY 1 ORDER BY 1
    """,
    "c9_session": f"""
        WITH flagged AS (
          SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                        > {SESSION_GAP_MINUTES * 60 * 1_000_000}
                      OR LAG(epoch_us(ts)) OVER w IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
          SELECT *, CAST(SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
          FROM flagged
        )
        SELECT user_id, session_seq,
               MIN(ts_us) AS session_start_us,
               MAX(ts_us) AS session_end_us,
               COUNT(*) AS n_events,
               {MONEY_SUM_VALUE} AS total_value
        FROM numbered GROUP BY user_id, session_seq
    """,
    "c44_session_funnel": f"""
        WITH flagged AS (
          SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                        > {SESSION_GAP_MINUTES * 60 * 1_000_000}
                      OR LAG(epoch_us(ts)) OVER w IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
          SELECT *, SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
          FROM flagged
        ),
        sessions AS (
          SELECT user_id, session_seq,
                 MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_view,
                 MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase
          FROM numbered GROUP BY user_id, session_seq
        )
        SELECT user_id, COUNT(*) AS n_sessions,
               CAST(SUM(has_view) AS BIGINT) AS n_view_sessions,
               CAST(SUM(CASE WHEN has_view = 1 AND has_purchase = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_converted
        FROM sessions GROUP BY user_id
    """,
    "c51_from_json": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
               CASE WHEN props IS NOT NULL AND json_valid(props)
                    THEN json_type(props) = 'OBJECT' ELSE FALSE
               END AS parsed_ok
        FROM events
    """,
    "c10_json_extract": """
        SELECT event_id, event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        FROM events
    """,
    "c21_json_agg": """
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
                 / COUNT(*) AS k_avg
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "c22_hourly_top_event": """
        SELECT window_start_us, event_type, n_events FROM (
          SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS window_start_us,
                 event_type, COUNT(*) AS n_events,
                 ROW_NUMBER() OVER (
                   PARTITION BY date_trunc('hour', ts)
                   ORDER BY COUNT(*) DESC, event_type) AS rn
          FROM events GROUP BY date_trunc('hour', ts), event_type
        ) t WHERE rn = 1
    """,
    "c80_streaming_sliding": f"""
        WITH starts AS (
          SELECT time_bucket(INTERVAL '30 minutes', ts) AS w_start, value FROM events
          UNION ALL
          SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', value
          FROM events
        )
        SELECT CAST(epoch_us(w_start) AS BIGINT) AS window_start_us,
               COUNT(*) AS n_events,
               {MONEY_SUM_VALUE} AS total_value
        FROM starts GROUP BY 1
    """,
    "c78_streaming_session": f"""
        WITH flagged AS (
          SELECT user_id, value, event_id, epoch_us(ts) AS ts_us,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                      OR LAG(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
          SELECT *, SUM(new_s) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
          FROM flagged
        )
        SELECT user_id,
               MIN(ts_us) AS session_start_us,
               MAX(ts_us) + 1800000000 AS session_end_us,
               COUNT(*) AS n_events,
               {MONEY_SUM_VALUE} AS total_value
        FROM numbered GROUP BY user_id, seq
    """,
    "c77_mad_anomaly": """
        WITH hourly AS (
          SELECT event_type,
                 CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
                   AS window_start_us,
                 COUNT(*) AS n_events
          FROM events GROUP BY 1, 2
        ),
        med AS (
          SELECT event_type, quantile_cont(n_events, 0.5) AS med
          FROM hourly GROUP BY 1
        ),
        dev AS (
          SELECT h.*, m.med, abs(n_events - m.med) AS dev
          FROM hourly h JOIN med m USING (event_type)
        ),
        mad AS (
          SELECT event_type, quantile_cont(dev, 0.5) AS mad,
                 AVG(dev) AS meanad
          FROM dev GROUP BY 1
        ),
        sc AS (
          SELECT d.*, CASE WHEN mad > 0 THEN mad
                           ELSE 1.253314 * meanad END AS scale
          FROM dev d JOIN mad USING (event_type)
        )
        SELECT event_type, window_start_us, n_events,
               ROUND(med, 6) AS med, ROUND(scale, 6) AS scale,
               ROUND(dev / scale, 6) AS dev_over_scale
        FROM sc
        WHERE dev > 3.5 * scale
    """,
}
