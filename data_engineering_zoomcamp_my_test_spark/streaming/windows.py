"""Structured Streaming operators (SURVEY.md §2.3 C11).

Streaming analog of operators/events.py: watermarked tumbling-window
aggregation over the events stream. The batch and streaming formulations
share one aggregation builder, so replaying the same rows through the stream
provably produces the batch answer (the parity test in
tests/test_streaming.py).

At scale this runs over a real source (Kafka/file drops) with the watermark
bounding state. Here every query reads a parquet file-drop directory through
``_events_stream`` and runs to completion through ``_drive`` — one
``foreachBatch`` loop on the RocksDB state store, landing parquet — so tests,
the fuzzer and the declared decls all exercise the same path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exprs import dmoney_sum, money
from ..session import env_positive_int
from ..tmpdirs import ephemeral_dir

EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)

# Input-carrying micro-batch count (recentProgress entries with
# numInputRows > 0) of the last ``_drive`` run, keyed by query name.  The
# streaming fuzzer's multi-batch pins read this instead of counting
# data-carrying sink epochs: a redelivery batch in the dedup replay CONSUMES
# input rows but emits zero output rows, so epoch-dir counting under-counts
# genuinely multi-batch replays (ADVICE r11).  recentProgress retains the
# last ~100 updates (numRecentProgressUpdates), so counts saturate there —
# far above any >=N multi-batch pin in use.
LAST_RUN_BATCHES: dict[str, int] = {}

# Peak state-operator footprint of the last ``_drive`` run, keyed by query
# name: {"rows": max numRowsTotal summed across state operators in any
# progress tick, "bytes": max memoryUsedBytes likewise}.  This is how the
# decade evidence records "N keys of RocksDB state" from the query's own
# metrics instead of inferring it from corpus arithmetic (VERDICT r11 #7).
LAST_RUN_STATE: dict[str, dict[str, int]] = {}

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def dir_bytes(path: str) -> int:
    """Total data bytes under ``path`` — a parquet directory or a single
    file (the driver's testdata tables are bare files). Skips
    _SUCCESS/.crc metadata. Returns 0 on any filesystem error — callers
    fall back to their floor."""
    total = 0
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(root, f))
    except OSError:
        return 0
    return total


def stream_width(spark: SparkSession, path: str, floor_n: int) -> int | None:
    """Byte-derived partition width for streaming data at ``path`` — the one
    width rule for replay landing files and replay shuffles (guide §2.2 —
    fewer, larger partitions when the data cannot fill them):
    ceil(bytes / target), floored at ``floor_n`` and capped at the session
    shuffle-partition setting (itself floored at ``floor_n``). The target is
    ``$SPARK_GRAFT_STREAM_PARTITION_BYTES`` (default 32 MB); at cluster
    scale the cap is the cluster's own parallelism, not a local default.
    None when the size is unknown (``dir_bytes`` reads 0: a remote URI, a
    missing or empty directory)."""
    target = env_positive_int("SPARK_GRAFT_STREAM_PARTITION_BYTES", 32 * 1024 * 1024)
    total = dir_bytes(path)
    if total <= 0:
        return None
    session_sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(max(floor_n, -(-total // target)), max(floor_n, session_sp))


def _replay_shuffle_partitions(
    spark: SparkSession, source_dir: str
) -> tuple[str | None, int]:
    """Scale-adaptive shuffle-partition count for a bounded replay.

    A stateful micro-batch pays one state-store lifecycle (open, commit,
    maintenance) PER shuffle partition PER epoch, so a bounded replay
    whose batches are far smaller than the session's partitioning pays
    pure per-partition overhead: measured at sf0.1, the c87 dedup replay
    runs 8.2 s at 32 partitions vs 3.8 s at 4. The count is
    ``stream_width`` with floor 4, so cross-partition state stays
    exercised; an unknown size, or a width at or above the session
    setting, leaves the setting alone.

    Returns (previous setting or None, chosen count); the caller restores
    the previous value after the query stops.
    """
    n = stream_width(spark, source_dir, floor_n=4)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if n is None or n >= int(prev):
        return None, 0
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return prev, n


def _events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """The events file-drop directory as a stream, at most
    ``max_files_per_trigger`` files per micro-batch — the cap is what makes
    a replay whose files all pre-exist run as several batches instead of
    one, so cross-batch state is exercised."""
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def _drive(
    spark: SparkSession,
    plan: DataFrame,
    query_name: str,
    land,
    output_mode: str,
    checkpoint: str | None = None,
    source_dir: str | None = None,
) -> None:
    """Run the streaming ``plan`` over everything available now, handing
    each micro-batch to ``land(batch_df, epoch)``, and stop.

    For the query's duration the state store runs on the RocksDB provider:
    the default HDFS-backed provider holds every key IN JVM HEAP (plus
    retained versions) — c78's 95M-session state OOMed the 16g local-mode
    heap at sf100 — while RocksDB keeps state in native memory + local
    disk, the documented Spark posture for large stateful streaming.  With
    ``source_dir`` the shuffle width follows ``_replay_shuffle_partitions``.
    Both confs are restored after the query stops, and the run's batch and
    state records land in ``LAST_RUN_BATCHES``/``LAST_RUN_STATE``.
    ``checkpoint=None`` is only valid in complete mode (Spark then uses a
    temporary checkpoint)."""
    prev_provider = spark.conf.get(_PROVIDER_KEY, None)
    prev_sp = None
    spark.conf.set(_PROVIDER_KEY, _ROCKSDB)
    try:
        if source_dir is not None:
            prev_sp, _n = _replay_shuffle_partitions(spark, source_dir)
        writer = (
            plan.writeStream.outputMode(output_mode)
            .queryName(query_name)
            .foreachBatch(land)
        )
        if checkpoint is not None:
            writer = writer.option("checkpointLocation", checkpoint)
        q = writer.start()
        try:
            q.processAllAvailable()
            progress = q.recentProgress
            LAST_RUN_BATCHES[query_name] = sum(
                1 for pr in progress if pr["numInputRows"] > 0
            )
            peak_rows = peak_bytes = 0
            for pr in progress:
                ops = pr.get("stateOperators") or ()
                peak_rows = max(
                    peak_rows, sum(op.get("numRowsTotal", 0) for op in ops)
                )
                peak_bytes = max(
                    peak_bytes, sum(op.get("memoryUsedBytes", 0) for op in ops)
                )
            LAST_RUN_STATE[query_name] = {"rows": peak_rows, "bytes": peak_bytes}
        finally:
            q.stop()
    finally:
        if prev_provider is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prev_provider)
        if prev_sp is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)


def _replay(
    spark: SparkSession,
    plan: DataFrame,
    query_name: str,
    sink_dir: str | None,
    output_mode: str,
    checkpoint: str | None = None,
    source_dir: str | None = None,
) -> DataFrame:
    """Drive ``plan`` to completion into a parquet sink and return what it
    produced, read lazily from ``sink_dir`` (which must outlive consumption;
    ``None`` means a session-scoped ephemeral dir).  Rows never serialize to
    the driver.

    - complete mode: every epoch overwrites ``sink_dir`` with the full
      result, so the last epoch is the final state.  Found the hard way at
      sf100: c78's 95M-session final state exceeded
      spark.driver.maxResultSize through a driver-side sink; here it is
      bounded only by executor disk.
    - append/update mode: output accumulates across epochs, so each epoch
      lands in ``sink_dir/epoch=N`` with overwrite — a retried epoch
      replaces its own directory, never double-appends — and the result is
      every landed epoch.

    The read-back uses the plan's schema over the listed paths (no footer
    inference job); an empty landing returns an empty frame of that schema.
    """
    if sink_dir is None:
        sink_dir = ephemeral_dir(f"{query_name}_sink_")
    complete = output_mode == "complete"

    def _land(batch_df: DataFrame, epoch: int) -> None:
        path = sink_dir if complete else f"{sink_dir}/epoch={epoch}"
        batch_df.write.mode("overwrite").parquet(path)

    _drive(spark, plan, query_name, _land, output_mode, checkpoint, source_dir)
    landed = sorted(os.listdir(sink_dir)) if os.path.isdir(sink_dir) else []
    if complete:
        paths = [sink_dir] if landed else []
    else:
        paths = [f"{sink_dir}/{d}" for d in landed if d.startswith("epoch=")]
    if not paths:
        return spark.createDataFrame([], plan.schema)
    return spark.read.schema(plan.schema).parquet(*paths)


def _windowed_agg(df: DataFrame, window: str) -> DataFrame:
    return (
        df.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
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
    )


def batch_tumbling_agg(events: DataFrame, window: str = "1 hour") -> DataFrame:
    return _windowed_agg(events, window)


def _views_and_purchases(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return views, purchases


def _attribution_join_plan(
    views: DataFrame, purchases: DataFrame, attribution_window: str
) -> DataFrame:
    return views.join(
        purchases,
        F.expr(
            "v_user = p_user AND purchase_ts >= view_ts "
            f"AND purchase_ts <= view_ts + interval {attribution_window}"
        ),
    ).select("p_user", "purchase_id", "view_id", "view_ts", "purchase_ts")


def batch_view_purchase_attribution(
    events: DataFrame, attribution_window: str = "30 minutes"
) -> DataFrame:
    """Batch twin of the stream-stream interval join: each purchase joins
    the views by the same user in the preceding attribution window."""
    views, purchases = _views_and_purchases(events)
    return _attribution_join_plan(views, purchases, attribution_window)


def run_streaming_attribution_replay(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    sink_dir: str,
    query_name: str = "attrib_replay",
    attribution_window: str = "30 minutes",
    watermark: str = "35 days",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Replay a bounded file-drop directory through the stream-stream
    interval join — purchase events attributed to the user's views within
    the preceding window — and return the full appended output.  Both
    sides carry watermarks and the join condition is time-bounded, so Spark
    can expire join state (unbounded state is the stream-stream join
    failure mode).

    Exactness domain: an inner stream-stream join emits a pair the moment
    both sides are present, so the ONLY way a replay can lose a batch-join
    row is state expiry — a side evicted by the watermark before its
    partner arrives. A watermark covering the replay's full time span
    (the bound on any arrival disorder) therefore makes the appended
    output EQUAL the batch join, under any file slicing and arrival
    order; 35 days covers the events corpus' 30-day span."""
    views, purchases = _views_and_purchases(
        _events_stream(spark, source_dir, max_files_per_trigger)
    )
    joined = _attribution_join_plan(
        views.withWatermark("view_ts", watermark),
        purchases.withWatermark("purchase_ts", watermark),
        attribution_window,
    )
    return _replay(
        spark, joined, query_name, sink_dir, "append", checkpoint, source_dir
    )


def run_streaming_dedup_replay(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    sink_dir: str,
    query_name: str = "dedup_replay",
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "35 days",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming ingest deduplication — the stream-side twin of the batch
    dedup family (c1/c29): replay a bounded (at-least-once, duplicated)
    file-drop directory through ``dropDuplicatesWithinWatermark`` and
    return the full appended output.  State stays bounded by the watermark
    (the unbounded-state failure of plain ``dropDuplicates`` on streams).

    Exactness domain: the keyed seen-state drops a redelivered copy iff
    the key is still in state, so the output equals the DISTINCT-by-key
    base corpus exactly when no key expires before its last redelivery
    arrives — a watermark covering the replay's full time span guarantees
    that under any slicing/arrival order. Copies are byte-identical rows,
    so WHICH copy survives is immaterial to the result."""
    stream = _events_stream(spark, source_dir, max_files_per_trigger)
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
    return _replay(
        spark, deduped, query_name, sink_dir, "append", checkpoint, source_dir
    )


def run_streaming_latest_state_replay(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    state_dir: str,
    query_name: str = "latest_state",
    key_col: str = "user_id",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Streaming MERGE that maintains a latest-row-per-key table across
    micro-batches — the foreachBatch stand-in for Delta's
    ``MERGE INTO ... WHEN MATCHED UPDATE`` on a CDC/upsert feed.

    Determinism + exactly-once come from two choices:

    - **latest-wins is a total order**: within every merge the winning row
      per key is argmax over (ts, event_id), so the final table is
      independent of batching, arrival order, and REDELIVERY (merging the
      same rows twice is a no-op) — unlike ``dropDuplicates`` whose
      survivor is partition-order arbitrary.
    - **epoch-versioned state**: ``state_dir/epoch=N`` is computed from
      the newest epoch < N plus batch N and overwritten in place, so a
      crashed/retried epoch rebuilds exactly the state it would have
      built — the same epoch-scoped idempotence shape as ``_replay``'s
      append sink, applied to a keyed table instead of an append log.

    Scale posture: each merge is one window shuffle keyed on ``key_col``
    over (previous state ∪ batch). Rewriting full state per epoch is the
    copy-on-write posture; at 100 TB state you'd bucket the table by key
    and rewrite only the buckets the batch touches (or use a real Delta/
    Iceberg MERGE) — the merge ORDER semantics here are exactly what that
    engine would apply."""
    from pyspark.sql.window import Window

    def _epochs() -> list[int]:
        if not os.path.isdir(state_dir):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(state_dir)
            if d.startswith("epoch=")
        )

    def _reduce(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(key_col).orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _merge(batch_df: DataFrame, epoch: int) -> None:
        sess = batch_df.sparkSession
        prev = [e for e in _epochs() if e < epoch]
        cur = _reduce(batch_df)
        if prev:
            base = sess.read.parquet(f"{state_dir}/epoch={max(prev)}")
            cur = _reduce(base.unionByName(cur))
        cur.write.mode("overwrite").parquet(f"{state_dir}/epoch={epoch}")

    stream = _events_stream(spark, source_dir, max_files_per_trigger)
    # The per-epoch merge's window shuffle runs as batch jobs inside
    # foreachBatch — size its fan-out from the source like the other
    # replays (the result is partitioning-independent: latest-wins is a
    # total order).
    _drive(spark, stream, query_name, _merge, "append", checkpoint, source_dir)
    done = _epochs()
    if not done:
        return spark.createDataFrame([], stream.schema)
    return spark.read.parquet(f"{state_dir}/epoch={done[-1]}")


def _sliding_agg(df: DataFrame, window: str, slide: str) -> DataFrame:
    return (
        df.groupBy(F.window("ts", window, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dmoney_sum(money("value"), "total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n_events",
            "total_value",
        )
    )


def batch_sliding_agg(
    events: DataFrame, window: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    return _sliding_agg(events, window, slide)


def run_streaming_sliding_agg(
    spark: SparkSession,
    source_dir: str,
    query_name: str = "slide_out",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 4,
    sink_dir: str | None = None,
) -> DataFrame:
    stream = _events_stream(spark, source_dir, max_files_per_trigger)
    agg = _sliding_agg(stream.withWatermark("ts", watermark), window, slide)
    return _replay(
        spark, agg, query_name, sink_dir, "complete", source_dir=source_dir
    )


def streaming_tumbling_agg(
    spark: SparkSession,
    source_dir: str,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Watermarked streaming aggregation over a file-drop directory of
    parquet event batches (micro-precision ts)."""
    stream = _events_stream(spark, source_dir, max_files_per_trigger)
    return _windowed_agg(stream.withWatermark("ts", watermark), window)


def _session_agg(df: DataFrame, gap: str) -> DataFrame:
    return (
        df.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dmoney_sum(money("value"), "total_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            F.unix_micros(F.col("sw.end")).alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )


def batch_session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    return _session_agg(events, gap)


def run_streaming_session_agg(
    spark: SparkSession,
    source_dir: str,
    query_name: str = "session_out",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 4,
    sink_dir: str | None = None,
) -> DataFrame:
    """Stateful streaming sessionization (session_window + watermark),
    driven to completion over the files currently in ``source_dir``.

    Watermark caveat (measured r8, tools/fuzz_streaming.py): session
    aggregation applies the watermark TO ITS INPUT even in COMPLETE
    output mode — rows older than the batch-start watermark are dropped
    before the session merge (complete mode never evicts state, but
    out-of-order arrival still loses data; time-window aggregation does
    neither). For a bounded replay that must equal the batch answer,
    pass a watermark >= the replay's possible disorder (its time span
    bounds any arrival order); the default 10 minutes is the
    unbounded-stream posture where dropping stragglers is the point."""
    stream = _events_stream(spark, source_dir, max_files_per_trigger)
    agg = _session_agg(stream.withWatermark("ts", watermark), gap)
    return _replay(
        spark, agg, query_name, sink_dir, "complete", source_dir=source_dir
    )


def stream_to_parquet_exactly_once(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Exactly-once file pipeline: each micro-batch lands in an
    epoch-scoped parquet path (idempotent overwrite on replay) while the
    checkpoint tracks source offsets — restart resumes from the last
    committed batch without duplicating output. This is the Spark-native
    replacement for the reference's fetch->store pipeline when the source is
    a continuously-landing directory."""
    stream = _events_stream(spark, source_dir, 2)
    _replay(spark, stream, "exactly_once", out_dir, "append", checkpoint_dir)


def run_streaming_tumbling_agg(
    spark: SparkSession,
    source_dir: str,
    query_name: str = "stream_out",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 4,
    sink_dir: str | None = None,
) -> DataFrame:
    """Drive the streaming agg to completion over the files currently in
    ``source_dir`` (complete mode into a parquet sink, see ``_replay``) and
    return the final state."""
    agg = streaming_tumbling_agg(
        spark, source_dir, window, watermark, max_files_per_trigger
    )
    return _replay(
        spark, agg, query_name, sink_dir, "complete", source_dir=source_dir
    )


def run_streaming_upsert_sink(
    spark: SparkSession,
    source_path: str,
    checkpoint: str,
    table: str,
    key: str = "event_id",
) -> None:
    """Streaming MERGE: every micro-batch upserts into a managed table via
    the crash-safe staged-swap writer (sinks.upsert_table) — the
    foreachBatch pattern that stands in for Delta's streaming MERGE INTO.
    Runs over the files available now and leaves ``table`` in place; a
    later call on the same checkpoint merges only newly landed files.
    One file per micro-batch, so files merge in arrival order; batches are
    deduped on the key before merging so a replayed epoch is idempotent."""
    from ..sinks import upsert_table
    from ..sinks.writers import recover_table_swap

    def merge_batch(df: DataFrame, epoch_id: int) -> None:
        batch = df.dropDuplicates([key])
        # a swap interrupted mid-rename leaves the base under __old/__staging;
        # reinstate it rather than shadowing it with a fresh single-batch table
        recover_table_swap(spark, table)
        if not spark.catalog.tableExists(table):
            batch.write.mode("overwrite").saveAsTable(table)
        else:
            upsert_table(spark, table, batch, key)

    stream = _events_stream(spark, source_path, 1)
    _drive(spark, stream, f"upsert_{table}", merge_batch, "append", checkpoint)
