"""Structured Streaming operators (SURVEY.md §2.3 C11).

Streaming analog of operators/events.py: watermarked tumbling-window
aggregation over the events stream. The batch and streaming formulations
share one aggregation builder, so replaying the same rows through the stream
provably produces the batch answer (the parity test in
tests/test_streaming.py).

At scale this runs over a real source (Kafka/file drops) with the watermark
bounding state; in tests the parquet-backed file source + ``memory`` sink
drive it synchronously.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exprs import dmoney_sum, money
from ..session import env_positive_int

EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)

# Input-carrying micro-batch count (recentProgress entries with
# numInputRows > 0) of the last ``_drive_append_mode`` run, keyed by query
# name.  The streaming fuzzer's multi-batch pins read this instead of
# counting data-carrying sink epochs: a redelivery batch in the dedup
# replay CONSUMES input rows but emits zero output rows, so epoch-dir
# counting under-counts genuinely multi-batch replays (ADVICE r11).
# recentProgress retains the last ~100 updates (numRecentProgressUpdates),
# so counts saturate there — far above any >=N multi-batch pin in use.
LAST_RUN_BATCHES: dict[str, int] = {}

# Peak state-operator footprint of the last ``_drive_append_mode`` run,
# keyed by query name: {"rows": max numRowsTotal summed across state
# operators in any progress tick, "bytes": max memoryUsedBytes likewise}.
# This is how the decade evidence records "N keys of RocksDB state" from
# the query's own metrics instead of inferring it from corpus arithmetic
# (VERDICT r11 #7).
LAST_RUN_STATE: dict[str, dict[str, int]] = {}


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


def _drive_complete_mode(
    spark: SparkSession,
    agg: DataFrame,
    query_name: str,
    sink_dir: str | None,
    source_dir: str | None = None,
) -> DataFrame:
    """Run a complete-mode streaming agg to completion and return its final
    state.

    ``sink_dir=None`` uses the memory sink (cheap, driver-materialized —
    right for tests and driver-gate scale).  A path switches to the SCALE
    sink: ``foreachBatch`` overwrites ``sink_dir`` with each epoch's full
    result — a distributed parquet write, so the state NEVER serializes to
    the driver; the last epoch is by construction the final state.  Found
    the hard way at sf100: c78's 95M-session final state exceeded
    spark.driver.maxResultSize through the memory sink, while the same
    replay through this sink is bounded only by executor/disk.  This is
    also the production posture — a complete-mode refresh lands in a table
    per epoch, not in driver memory.  The returned DataFrame reads lazily
    from ``sink_dir``, which must outlive consumption (callers pass a temp
    dir they clean after the compare, or a real output path).

    The scale arm also swaps the state store to the RocksDB provider for
    the duration of the query (conf restored after): the default
    HDFS-backed provider holds every key IN JVM HEAP (plus retained
    versions) — c78's 95M-session state OOMed the 16g local-mode heap at
    sf100 even with the distributed sink — while RocksDB keeps state in
    native memory + local disk, which is the documented Spark posture for
    large stateful streaming and the only one that survives 100 TB keys.
    """
    prev_sp = None
    if source_dir is not None:
        prev_sp, _n = _replay_shuffle_partitions(spark, source_dir)
    if sink_dir is None:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            if prev_sp is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
        return spark.table(query_name)

    def _land(batch_df: DataFrame, _epoch: int) -> None:
        batch_df.write.mode("overwrite").parquet(sink_dir)

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .queryName(query_name)
            .foreachBatch(_land)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
        if prev_sp is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    return spark.read.parquet(sink_dir)


def _drive_append_mode(
    spark: SparkSession,
    out: DataFrame,
    query_name: str,
    checkpoint: str,
    sink_dir: str,
    output_mode: str = "append",
    source_dir: str | None = None,
) -> DataFrame:
    """Run an append- or update-mode streaming plan to completion and
    return ALL rows it emitted.

    Append/update output accumulates across epochs (unlike complete mode, where
    the last epoch IS the answer), so each micro-batch lands in an
    epoch-scoped parquet path with overwrite — a retried epoch replaces
    its own directory, never double-appends (the same exactly-once shape
    as ``stream_to_parquet_exactly_once``). Rows never serialize to the
    driver, and the state store runs on the RocksDB provider for the
    query's duration: stream-stream join state holds BOTH sides' rows
    within the watermark, the heap-backed default is the first thing to
    die at 100 TB. The returned DataFrame reads the epoch dirs lazily, so
    ``sink_dir`` must outlive consumption."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(provider_key, rocksdb)
    prev_sp = None
    if source_dir is not None:
        prev_sp, _n = _replay_shuffle_partitions(spark, source_dir)

    def _land(batch_df: DataFrame, epoch: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{sink_dir}/epoch={epoch}")

    try:
        q = (
            out.writeStream.outputMode(output_mode)
            .queryName(query_name)
            .option("checkpointLocation", checkpoint)
            .foreachBatch(_land)
            .start()
        )
        try:
            q.processAllAvailable()
            LAST_RUN_BATCHES[query_name] = sum(
                1 for pr in q.recentProgress if pr["numInputRows"] > 0
            )
            peak_rows = peak_bytes = 0
            for pr in q.recentProgress:
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
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
        if prev_sp is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    # epoch=N dirs passed as explicit roots (glob), so no partition column
    # is inferred into the result schema.  An empty source directory
    # produces zero epochs — return an empty frame of the plan's schema
    # rather than letting the glob raise PATH_NOT_FOUND (ADVICE r11).
    if not any(
        d.startswith("epoch=") for d in (os.listdir(sink_dir) if os.path.isdir(sink_dir) else ())
    ):
        return spark.createDataFrame([], out.schema)
    return spark.read.schema(out.schema).parquet(f"{sink_dir}/epoch=*")


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
    interval join and return the full appended output — the driver-decl
    arm of ``run_streaming_attribution_join`` (which returns a live
    memory-sink query for interactive/test use).

    Exactness domain: an inner stream-stream join emits a pair the moment
    both sides are present, so the ONLY way a replay can lose a batch-join
    row is state expiry — a side evicted by the watermark before its
    partner arrives. A watermark covering the replay's full time span
    (the bound on any arrival disorder) therefore makes the appended
    output EQUAL the batch join, under any file slicing and arrival
    order; 35 days covers the events corpus' 30-day span."""
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = _attribution_join_plan(views, purchases, attribution_window)
    return _drive_append_mode(
        spark, joined, query_name, checkpoint, sink_dir, source_dir=source_dir
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
    """Replay a bounded (at-least-once, duplicated) file-drop directory
    through ``dropDuplicatesWithinWatermark`` and return the full appended
    output — the driver-decl arm of ``run_streaming_dedup`` (which returns
    a live memory-sink query).

    Exactness domain: the keyed seen-state drops a redelivered copy iff
    the key is still in state, so the output equals the DISTINCT-by-key
    base corpus exactly when no key expires before its last redelivery
    arrives — a watermark covering the replay's full time span guarantees
    that under any slicing/arrival order. Copies are byte-identical rows,
    so WHICH copy survives is immaterial to the result."""
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
    return _drive_append_mode(
        spark, deduped, query_name, checkpoint, sink_dir, source_dir=source_dir
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
      built — the same epoch-scoped idempotence shape as
      ``_drive_append_mode``, applied to a keyed table instead of an
      append log.

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

    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    # The per-epoch merge's window shuffle runs as batch jobs inside
    # foreachBatch — size its fan-out from the source like the other
    # replay drivers (the result is partitioning-independent: latest-wins
    # is a total order).
    prev_sp, _n = _replay_shuffle_partitions(spark, source_dir)
    q = (
        stream.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_merge)
        .start()
    )
    try:
        q.processAllAvailable()
        LAST_RUN_BATCHES[query_name] = sum(
            1 for pr in q.recentProgress if pr["numInputRows"] > 0
        )
    finally:
        q.stop()
        if prev_sp is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
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
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    agg = _sliding_agg(stream.withWatermark("ts", watermark), window, slide)
    return _drive_complete_mode(
        spark, agg, query_name, sink_dir, source_dir=source_dir
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
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
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
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    agg = _session_agg(stream.withWatermark("ts", watermark), gap)
    return _drive_complete_mode(
        spark, agg, query_name, sink_dir, source_dir=source_dir
    )


def stream_to_parquet_exactly_once(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Exactly-once file pipeline: ``foreachBatch`` writes each micro-batch
    to an epoch-scoped parquet path (idempotent overwrite on replay) while
    the checkpoint tracks source offsets — restart resumes from the last
    committed batch without duplicating output. This is the Spark-native
    replacement for the reference's fetch->store pipeline when the source is
    a continuously-landing directory."""

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 2)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


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
    ``source_dir`` (complete mode -> memory or distributed-parquet sink,
    see ``_drive_complete_mode``) and return the final state."""
    agg = streaming_tumbling_agg(
        spark, source_dir, window, watermark, max_files_per_trigger
    )
    return _drive_complete_mode(
        spark, agg, query_name, sink_dir, source_dir=source_dir
    )


def run_streaming_dedup(
    spark: SparkSession,
    source_path: str,
    checkpoint: str,
    query_name: str = "dedup_out",
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
):
    """Streaming ingest deduplication — the stream-side twin of the batch
    dedup family (c1/c29): ``dropDuplicatesWithinWatermark`` keeps one row
    per key among events whose timestamps fall within the watermark bound,
    so replayed/at-least-once sources (Kafka redeliveries, file re-drops)
    don't double-count, while state stays bounded by the watermark (the
    unbounded-state failure of plain ``dropDuplicates`` on streams).
    Returns the started query writing append-mode to a memory sink.

    ``max_files_per_trigger`` caps files per micro-batch so a replay whose
    files all pre-exist still splits into MULTIPLE batches — without it the
    whole replay collapses into one batch and only intra-batch dedup is
    exercised, never the keyed-state path that carries seen-keys across
    batches (the case redelivery testing actually cares about)."""
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)
    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def batch_view_purchase_attribution(
    events: DataFrame, attribution_window: str = "30 minutes"
) -> DataFrame:
    """Batch twin of the stream-stream interval join: each purchase joins
    the views by the same user in the preceding attribution window."""
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
    return _attribution_join_plan(views, purchases, attribution_window)


def run_streaming_attribution_join(
    spark: SparkSession,
    source_path: str,
    checkpoint: str,
    query_name: str = "attrib_out",
    attribution_window: str = "30 minutes",
    watermark: str = "1 hour",
    max_files_per_trigger: int | None = None,
):
    """Stream-stream interval join — purchase events attributed to the
    user's views within the preceding window. Both sides carry watermarks
    and the join condition is time-bounded, so Spark can expire join state
    (unbounded state is the stream-stream join failure mode). Same
    builder-sharing pattern as the windowed aggs: the batch twin above
    replays to identical rows (parity test).

    For a bounded replay that must equal the batch join, the watermark
    must cover the replay's disorder — expired state loses matches whose
    partner arrives late (same exactness-domain shape as session
    aggregation; measured by tools/fuzz_streaming.py)."""
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_path)
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = _attribution_join_plan(views, purchases, attribution_window)
    return (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def run_streaming_upsert_sink(
    spark: SparkSession,
    source_path: str,
    checkpoint: str,
    table: str,
    key: str = "event_id",
):
    """Streaming MERGE: every micro-batch upserts into a managed table via
    the crash-safe staged-swap writer (sinks.upsert_table) — the
    foreachBatch pattern that stands in for Delta's streaming MERGE INTO.
    Batches are deduped on the key before merging so a replayed epoch is
    idempotent."""
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

    stream = spark.readStream.schema(EVENTS_DDL).parquet(source_path)
    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )
