"""C11: streaming/batch parity — the same events replayed through a
watermarked Structured Streaming query must equal the batch aggregation."""

from __future__ import annotations

import os

from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table
from data_engineering_zoomcamp_my_test_spark.streaming import (
    batch_session_agg,
    batch_tumbling_agg,
    run_streaming_session_agg,
    run_streaming_tumbling_agg,
)


def test_streaming_batch_parity(spark, sf_small, tmp_path):
    events = load_table(spark, sf_small, "events")

    # Re-land the events as micro-precision parquet "file drops" (several
    # files so the stream sees multiple micro-batches).
    drop_dir = str(tmp_path / "drops")
    events.repartition(4).write.parquet(drop_dir)

    batch = batch_tumbling_agg(spark.read.parquet(drop_dir))
    stream = run_streaming_tumbling_agg(spark, drop_dir, query_name="parity_out")

    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in stream.collect())
    assert b == s
    assert len(b) > 0


def test_streaming_session_parity(spark, sf_small, tmp_path):
    """Stateful session_window streaming == batch session_window on replay."""
    events = load_table(spark, sf_small, "events")
    drop_dir = str(tmp_path / "sess_drops")
    events.repartition(3).write.parquet(drop_dir)

    batch = batch_session_agg(spark.read.parquet(drop_dir))
    stream = run_streaming_session_agg(spark, drop_dir, query_name="sess_parity")

    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in stream.collect())
    assert b == s and len(b) > 0


def test_streaming_sliding_parity(spark, sf_small, tmp_path):
    from data_engineering_zoomcamp_my_test_spark.streaming import (
        batch_sliding_agg,
        run_streaming_sliding_agg,
    )

    events = load_table(spark, sf_small, "events")
    drop_dir = str(tmp_path / "slide_drops")
    events.repartition(3).write.parquet(drop_dir)

    batch = batch_sliding_agg(spark.read.parquet(drop_dir))
    stream = run_streaming_sliding_agg(spark, drop_dir, query_name="slide_parity")
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, stream.collect()))


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with a 10-min watermark: an event arriving
    after its window is finalized must be DROPPED, not merged."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")

    def mk(rows):
        return spark.createDataFrame(
            [(i, ts, 1, "click", 1.0, "{}") for i, ts in enumerate(rows)],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
            "event_type", "value", "props",
        )

    # batch 1: two events in the 10:00 window, one at 11:30 (advances
    # watermark past 11:00 -> finalizes the 10:00 window at 2 events).
    # coalesce(1): each landed batch must be ONE file so the file source
    # processes it as one trigger (multiple parts would be triggered in
    # arbitrary order and the watermark would drop on-time rows).
    mk(["2024-01-01 10:00:00", "2024-01-01 10:30:00", "2024-01-01 11:30:00"]).coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).option("maxFilesPerTrigger", 1).parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_micros(F.col("w.start")).alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("append").format("memory")
        .queryName("late_out").option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a VERY late event for the finalized 10:00 window, plus a
        # 13:00 event that finalizes the 11:00 window
        mk(["2024-01-01 10:15:00", "2024-01-01 13:00:00"]).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    out = {r.ws: r.n for r in spark.table("late_out").collect()}
    h10 = 1704103200000000  # 2024-01-01 10:00:00 UTC in epoch micros
    h11 = h10 + 3600000000
    assert out[h10] == 2, f"late event merged into finalized window: {out}"
    assert out[h11] == 1
    assert max(out) <= h11 + 3600000000  # 13:00 window not finalized/emitted


def test_foreach_batch_exactly_once_resume(spark, sf_small, tmp_path):
    """Checkpointed foreachBatch pipeline: restart after new files arrive
    processes only the new data; total output is complete with no dupes."""
    from data_engineering_zoomcamp_my_test_spark.streaming import (
        stream_to_parquet_exactly_once,
    )

    events = load_table(spark, sf_small, "events")
    first = events.filter("event_id % 2 = 0")
    second = events.filter("event_id % 2 = 1")

    src = str(tmp_path / "eo_src")
    out = str(tmp_path / "eo_out")
    ckpt = str(tmp_path / "eo_ckpt")
    first.repartition(2).write.parquet(src)

    stream_to_parquet_exactly_once(spark, src, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == first.count()

    second.repartition(2).write.mode("append").parquet(src)
    stream_to_parquet_exactly_once(spark, src, out, ckpt)  # resume, same ckpt
    got = spark.read.parquet(out)
    assert got.count() == events.count()  # complete
    assert got.select("event_id").distinct().count() == events.count()  # no dupes


def test_streaming_is_incremental(spark, sf_small, tmp_path):
    """Late-arriving file lands -> rerun picks it up (file-source replay)."""
    events = load_table(spark, sf_small, "events")
    first = events.filter("event_id % 2 = 0")
    second = events.filter("event_id % 2 = 1")

    drop_dir = str(tmp_path / "drops2")
    first.write.parquet(drop_dir)
    out1 = run_streaming_tumbling_agg(spark, drop_dir, query_name="inc_out1")
    n1 = out1.agg({"n_events": "sum"}).collect()[0][0]

    second.write.mode("append").parquet(drop_dir)
    out2 = run_streaming_tumbling_agg(spark, drop_dir, query_name="inc_out2")
    n2 = out2.agg({"n_events": "sum"}).collect()[0][0]

    assert n1 == first.count()
    assert n2 == events.count()
    assert os.path.isdir(drop_dir)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """At-least-once delivery: the same event_id arriving again in a later
    micro-batch (within the watermark) must be dropped; distinct events
    survive. Stream result == batch dropDuplicates on the same rows."""
    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        run_streaming_dedup_replay,
    )

    src = str(tmp_path / "dup_src")

    def replay():
        return run_streaming_dedup_replay(
            spark, src, checkpoint=str(tmp_path / "dup_ckpt"),
            sink_dir=str(tmp_path / "dup_sink"), query_name="dedup_out_t",
            watermark="30 minutes",
        )

    def mk(rows):
        return spark.createDataFrame(
            [(i, ts, 1, "click", 1.0, "{}") for i, ts in rows],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
            "event_type", "value", "props",
        )

    mk([(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:05:00")]).coalesce(1).write.parquet(src)
    replay()
    # redelivery of event 1 + one new event, same watermark window, replayed
    # on the same checkpoint and sink
    mk([(1, "2024-01-01 10:00:00"), (3, "2024-01-01 10:10:00")]).coalesce(1).write.mode("append").parquet(src)
    got = sorted(r.event_id for r in replay().collect())
    assert got == [1, 2, 3], f"streaming dedup wrong: {got}"


def test_stream_stream_attribution_join_parity(spark, tmp_path):
    """Stream-stream interval join replays to the batch twin's rows."""
    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        batch_view_purchase_attribution,
        run_streaming_attribution_replay,
    )

    src = str(tmp_path / "attr_src")

    def replay():
        return run_streaming_attribution_replay(
            spark, src, checkpoint=str(tmp_path / "attr_ckpt"),
            sink_dir=str(tmp_path / "attr_sink"), query_name="attrib_t",
            watermark="1 hour",
        )

    def mk(rows):
        return spark.createDataFrame(
            [(i, ts, uid, et, 1.0, "{}") for i, ts, uid, et in rows],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
            "event_type", "value", "props",
        )

    rows1 = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:10:00", 1, "purchase"),   # attributed to view 1
        (3, "2024-01-01 10:00:00", 2, "view"),
    ]
    rows2 = [
        (4, "2024-01-01 11:00:00", 2, "purchase"),   # > 30 min after view 3: NOT attributed
        (5, "2024-01-01 11:05:00", 1, "view"),
        (6, "2024-01-01 11:20:00", 1, "purchase"),   # attributed to view 5
        (7, "2024-01-01 14:00:00", 9, "view"),       # advances both watermarks
    ]
    mk(rows1).coalesce(1).write.parquet(src)
    replay()
    mk(rows2).coalesce(1).write.mode("append").parquet(src)
    stream_rows = {
        (r.p_user, r.purchase_id, r.view_id) for r in replay().collect()
    }
    batch_rows = {
        (r.p_user, r.purchase_id, r.view_id)
        for r in batch_view_purchase_attribution(mk(rows1 + rows2)).collect()
    }
    assert stream_rows == batch_rows == {(1, 2, 1), (1, 6, 5)}


def test_streaming_upsert_sink(spark, tmp_path):
    """foreachBatch MERGE: later batches update matching keys in the managed
    table; a second run on the same checkpoint merges only the new file."""
    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        run_streaming_upsert_sink,
    )

    src = str(tmp_path / "ups_src")
    ckpt = str(tmp_path / "ups_ckpt")

    def mk(rows):
        return spark.createDataFrame(
            [(i, "2024-01-01 10:00:00", 1, et, v, "{}") for i, et, v in rows],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
            "event_type", "value", "props",
        )

    mk([(1, "view", 1.0), (2, "view", 2.0)]).coalesce(1).write.parquet(src)
    try:
        run_streaming_upsert_sink(spark, src, ckpt, table="t_stream_upsert")
        # key 2 updated, key 3 new
        mk([(2, "purchase", 20.0), (3, "view", 3.0)]).coalesce(1).write.mode("append").parquet(src)
        run_streaming_upsert_sink(spark, src, ckpt, table="t_stream_upsert")
    finally:
        got = {r.event_id: (r.event_type, r.value)
               for r in spark.table("t_stream_upsert").collect()}
        spark.sql("DROP TABLE IF EXISTS t_stream_upsert")
    assert got == {1: ("view", 1.0), 2: ("purchase", 20.0), 3: ("view", 3.0)}


def test_session_complete_mode_filters_late_input_by_watermark(spark, sf_small, tmp_path):
    """Engine-behavior pin for a REAL asymmetry tools/fuzz_streaming.py
    found on its first campaign (r8), sharpened by a controlled-arrival
    experiment: session-window aggregation applies its watermark to the
    INPUT even in COMPLETE output mode — rows older than the watermark at
    batch start are dropped before the merge — while complete mode never
    evicts session state (time windows do neither: tumbling/sliding
    fuzzed exact under arbitrary order with 0s watermarks).

    The two arms separate the mechanisms: with guaranteed ASCENDING
    arrival and a 0s watermark there is NO loss (state is never evicted,
    and nothing ever arrives late); with DESCENDING arrival (newest file
    first, so the watermark jumps to the stream max immediately) most
    input is late and the result loses sessions.  Consequence: a bounded
    replay equals the batch answer iff the watermark covers the replay's
    DISORDER — the contract c78_streaming_session and the fuzzer's
    session draws encode (watermark >= the events table's ~30-day span,
    which bounds any arrival order).

    Files are landed as SEQUENTIAL single-file writes (strictly
    increasing mtime) because the file source orders same-mtime files
    arbitrarily — the nondeterminism that made the first version of this
    pin flaky."""
    import time as _time

    from pyspark.sql import functions as F

    events = load_table(spark, sf_small, "events")

    us = events.select(F.unix_micros("ts").alias("u"))
    q = us.approxQuantile("u", [0.25, 0.5, 0.75], 0.0)
    bounds = [None, *q, None]

    def land(drop_dir: str, order: list[int]) -> None:
        for i in order:
            lo, hi = bounds[i], bounds[i + 1]
            sl = events
            if lo is not None:
                sl = sl.filter(F.unix_micros("ts") > lo)
            if hi is not None:
                sl = sl.filter(F.unix_micros("ts") <= hi)
            sl.coalesce(1).write.mode("append").parquet(drop_dir)
            _time.sleep(0.3)

    asc_dir = str(tmp_path / "asc_drops")
    land(asc_dir, [0, 1, 2, 3])
    n_batch = batch_session_agg(spark.read.parquet(asc_dir)).count()

    # ascending + 0s watermark: nothing is ever late, and complete mode
    # retains every finalized session -> NO eviction, exact result
    asc = run_streaming_session_agg(
        spark, asc_dir, query_name="late_asc",
        watermark="0 seconds", max_files_per_trigger=1,
    ).count()
    assert asc == n_batch, (asc, n_batch)

    # descending + 0s watermark: the first batch advances the watermark
    # to the stream max, so later (older) files are late input -> loss
    desc_dir = str(tmp_path / "desc_drops")
    land(desc_dir, [3, 2, 1, 0])
    lossy = run_streaming_session_agg(
        spark, desc_dir, query_name="late_desc",
        watermark="0 seconds", max_files_per_trigger=1,
    ).count()
    assert lossy < n_batch, (lossy, n_batch)

    # descending + replay-covering watermark: nothing is late -> exact
    exact = run_streaming_session_agg(
        spark, desc_dir, query_name="late_desc_bigwm",
        watermark="35 days", max_files_per_trigger=1,
    ).count()
    assert exact == n_batch, (exact, n_batch)


def test_stream_stream_join_expires_state_past_watermark(spark, tmp_path):
    """Engine-behavior pin (r8, found while extending fuzz_streaming to the
    stream-stream interval join): append-mode stream-stream joins lose
    matches whose partner arrives later than the watermark allows
    (late-input drop and/or join-state expiry — both are watermark-gated
    for joins), same exactness-domain shape as the session late-input
    filter.  A bounded replay equals the batch join only when the
    watermark covers the replay's disorder (the fuzzer's attribution
    draws encode this)."""
    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        batch_view_purchase_attribution,
        run_streaming_attribution_replay,
    )

    def mk(rows):
        return spark.createDataFrame(
            [(i + off, ts, u, et, 1.0, "{}") for i, (off, ts, u, et) in enumerate(rows)],
            "event_id long, ts_s string, user_id long, event_type string, "
            "value double, props string",
        ).select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
            "event_type", "value", "props",
        )

    # batch 1: the purchase, plus non-matching 20:00 events on BOTH sides
    # (the join watermark is the min across sides) -> wm ~ 19:00
    b1 = [
        (0, "2024-01-01 10:10:00", 1, "purchase"),
        (10, "2024-01-01 20:00:00", 2, "view"),
        (20, "2024-01-01 20:00:00", 3, "purchase"),
    ]
    # batch 2: u1's view at 10:00 — nine hours behind the watermark
    b2 = [(30, "2024-01-01 10:00:00", 1, "view")]

    n_batch = batch_view_purchase_attribution(mk(b1 + b2)).count()
    assert n_batch == 1  # u1: view 10:00 -> purchase 10:10 within 30 min

    # Two replays on one checkpoint and sink: the first run's trailing
    # no-data batch advances the watermark before b2 lands.  Landing both
    # files first and replaying once runs no batch between them, so the
    # 1-hour arm would keep its match and pin nothing.
    def replay(tag, wm):
        return run_streaming_attribution_replay(
            spark, str(tmp_path / f"src_{tag}"),
            checkpoint=str(tmp_path / f"ckpt_{tag}"),
            sink_dir=str(tmp_path / f"sink_{tag}"), query_name=tag,
            watermark=wm, max_files_per_trigger=1,
        )

    for wm, expect in (("1 hour", 0), ("1000 hours", 1)):
        tag = f"ssj_{wm.split()[0]}"
        src = str(tmp_path / f"src_{tag}")
        mk(b1).coalesce(1).write.parquet(src)
        replay(tag, wm)
        mk(b2).coalesce(1).write.mode("append").parquet(src)
        assert replay(tag, wm).count() == expect, (wm, expect)


def test_streaming_attribution_replay_multi_batch_exact(spark, sf_small, tmp_path):
    """The c86 replay arm: a 4-file drop at maxFilesPerTrigger=1 runs as a
    genuine multi-epoch replay (pinned by the epoch-scoped sink layout —
    one dir per micro-batch, the exactly-once overwrite unit) and its
    appended output equals the batch interval join row-for-row, including
    pairs whose two sides arrived in DIFFERENT micro-batches."""
    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        batch_view_purchase_attribution,
        run_streaming_attribution_replay,
    )

    events = load_table(spark, sf_small, "events")
    drop_dir = str(tmp_path / "c86_drops")
    sink_dir = str(tmp_path / "c86_sink")
    events.repartition(4).write.parquet(drop_dir)

    out = run_streaming_attribution_replay(
        spark,
        drop_dir,
        checkpoint=str(tmp_path / "c86_ckpt"),
        sink_dir=sink_dir,
        query_name="c86_test",
        max_files_per_trigger=1,
    )
    got = sorted(
        (r.p_user, r.purchase_id, r.view_id) for r in out.collect()
    )
    want_df = batch_view_purchase_attribution(spark.read.parquet(drop_dir))
    want = sorted(
        (r.p_user, r.purchase_id, r.view_id) for r in want_df.collect()
    )
    assert got == want and len(got) > 0

    # multi-batch pin: 4 single-file triggers -> >= 4 epoch dirs
    epochs = [d for d in os.listdir(sink_dir) if d.startswith("epoch=")]
    assert len(epochs) >= 4, epochs

    # cross-batch pin: at least one attributed pair's sides landed in
    # different drop files (hash slicing makes this overwhelmingly likely;
    # if it ever fails the test corpus stopped exercising join state)
    files = sorted(os.listdir(drop_dir))
    part_of = {}
    for i, fname in enumerate(f for f in files if f.endswith(".parquet")):
        for r in spark.read.parquet(os.path.join(drop_dir, fname)).select(
            "event_id"
        ).collect():
            part_of[r.event_id] = i
    assert any(
        part_of.get(p) != part_of.get(v) for _, p, v in got
    ), "all pairs co-located in one drop file"


def test_streaming_dedup_replay_reduces_to_base_corpus(spark, sf_small, tmp_path):
    """The c87 arm: every drop file redelivered once with a later mtime;
    the replayed dropDuplicatesWithinWatermark output equals the base
    corpus exactly, with redeliveries landing in later micro-batches
    (pinned by the epoch-scoped sink layout)."""
    import shutil
    import time as _time

    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        run_streaming_dedup_replay,
    )

    events = load_table(spark, sf_small, "events")
    src = str(tmp_path / "c87_src")
    sink = str(tmp_path / "c87_sink")
    events.repartition(2).write.parquet(src)
    now = _time.time()
    for fname in sorted(os.listdir(src)):
        if not fname.endswith(".parquet"):
            continue
        p = os.path.join(src, fname)
        os.utime(p, (now - 20.0, now - 20.0))
        dst = os.path.join(src, f"redeliver_{fname}")
        shutil.copyfile(p, dst)
        os.utime(dst, (now, now))

    out = run_streaming_dedup_replay(
        spark,
        src,
        checkpoint=str(tmp_path / "c87_ckpt"),
        sink_dir=sink,
        query_name="c87_test",
        max_files_per_trigger=1,
    )
    assert out.count() == events.count()  # 2x input rows -> base corpus
    got = sorted(r.event_id for r in out.select("event_id").collect())
    want = sorted(r.event_id for r in events.select("event_id").collect())
    assert got == want
    epochs = [d for d in os.listdir(sink) if d.startswith("epoch=")]
    assert len(epochs) >= 4, epochs


def test_dedup_state_survives_query_restart(spark, sf_small, tmp_path):
    """Crash-recovery pin: keyed dedup seen-state must be restored from
    the CHECKPOINT across a full query stop/start. Run 1 consumes only
    the base drop files and stops; the redelivered copies land AFTER the
    restart, so a fresh query object (same checkpoint + epoch sink) must
    dedup them against state it never built in its own lifetime. Output
    equals the base corpus exactly; no epoch is double-appended."""
    import shutil
    import time as _time

    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        run_streaming_dedup_replay,
    )

    events = load_table(spark, sf_small, "events")
    src = str(tmp_path / "restart_src")
    sink = str(tmp_path / "restart_sink")
    ckpt = str(tmp_path / "restart_ckpt")
    events.repartition(2).write.parquet(src)
    base_files = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )

    def run_once():
        return run_streaming_dedup_replay(
            spark, src, checkpoint=ckpt, sink_dir=sink, query_name="restart_t"
        )

    # run 1: base files only, runs to completion and stops
    run_once()
    epochs_run1 = {d for d in os.listdir(sink) if d.startswith("epoch=")}
    assert len(epochs_run1) >= 2

    # redeliver every base file with a later mtime, then RESTART
    now = _time.time()
    for fname in base_files:
        dst = os.path.join(src, f"redeliver_{fname}")
        shutil.copyfile(os.path.join(src, fname), dst)
        os.utime(dst, (now, now))
    out = run_once()

    # all redelivered rows were dropped against restored state
    assert out.count() == events.count()
    got = sorted(r.event_id for r in out.select("event_id").collect())
    want = sorted(r.event_id for r in events.select("event_id").collect())
    assert got == want
    # run 2 produced NEW epochs (resumed batch ids, no overwrite of run 1)
    epochs_run2 = {d for d in os.listdir(sink) if d.startswith("epoch=")}
    assert epochs_run1 < epochs_run2


def test_replay_drivers_restore_state_store_conf(spark, sf_small, tmp_path):
    """_drive swaps in the RocksDB state-store provider for
    the query's duration; a leaked conf would silently re-provider every
    later stateful query in the session. Pin restore on both the unset
    and explicitly-set initial states."""
    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        run_streaming_dedup_replay,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    events = load_table(spark, sf_small, "events").limit(200)
    src = str(tmp_path / "conf_src")
    events.repartition(2).write.parquet(src)

    def replay(tag):
        run_streaming_dedup_replay(
            spark, src,
            checkpoint=str(tmp_path / f"ckpt_{tag}"),
            sink_dir=str(tmp_path / f"sink_{tag}"),
            query_name=f"conf_{tag}",
        ).collect()

    before = spark.conf.get(key, None)
    replay("a")
    assert spark.conf.get(key, None) == before

    sentinel = (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    )
    spark.conf.set(key, sentinel)
    try:
        replay("b")
        assert spark.conf.get(key) == sentinel
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_latest_state_replay_matches_batch_and_is_redelivery_idempotent(
    spark, sf_small, tmp_path
):
    """The c89 arm: 4 drop files + 1 redelivered copy replayed at
    maxFilesPerTrigger=1 through the latest-wins foreachBatch MERGE must
    equal the batch latest-per-user answer, with one state epoch per
    input-carrying batch (>=5, redelivery included — the merge consumed
    it and changed nothing)."""
    import shutil
    import time as _time

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        LAST_RUN_BATCHES,
        run_streaming_latest_state_replay,
    )

    events = load_table(spark, sf_small, "events")
    src = str(tmp_path / "c89_src")
    state = str(tmp_path / "c89_state")
    events.repartition(4).write.parquet(src)
    base_files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    now = _time.time()
    for fname in base_files:
        os.utime(os.path.join(src, fname), (now - 20.0, now - 20.0))
    dst = os.path.join(src, f"redeliver_{base_files[0]}")
    shutil.copyfile(os.path.join(src, base_files[0]), dst)
    os.utime(dst, (now, now))

    out = run_streaming_latest_state_replay(
        spark,
        src,
        checkpoint=str(tmp_path / "c89_ckpt"),
        state_dir=state,
        query_name="c89_test",
        max_files_per_trigger=1,
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = (
        events.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .drop("rn")
    )
    cols = ["user_id", "event_id", "ts", "event_type", "value"]
    assert sorted(map(tuple, out.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )
    assert LAST_RUN_BATCHES["c89_test"] >= 5
    epochs = [d for d in os.listdir(state) if d.startswith("epoch=")]
    assert len(epochs) >= 5, epochs


def test_latest_state_survives_query_restart(spark, sf_small, tmp_path):
    """Crash-recovery pin for the upsert sink: run 1 merges only the base
    files and stops; every file is then redelivered and a FRESH query
    (same checkpoint) resumes — the file-source offset log must skip the
    already-merged files and the idempotent merge must leave the final
    state equal to the batch answer (not double-merged garbage, not a
    reset table)."""
    import shutil
    import time as _time

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        run_streaming_latest_state_replay,
    )

    events = load_table(spark, sf_small, "events")
    src = str(tmp_path / "r_src")
    state = str(tmp_path / "r_state")
    ckpt = str(tmp_path / "r_ckpt")
    events.repartition(2).write.parquet(src)
    base_files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))

    run_streaming_latest_state_replay(
        spark, src, checkpoint=ckpt, state_dir=state,
        query_name="c89_restart", max_files_per_trigger=1,
    )
    n_epochs_run1 = len(
        [d for d in os.listdir(state) if d.startswith("epoch=")]
    )
    assert n_epochs_run1 >= 2

    now = _time.time()
    for fname in base_files:
        dst = os.path.join(src, f"redeliver_{fname}")
        shutil.copyfile(os.path.join(src, fname), dst)
        os.utime(dst, (now, now))
    out = run_streaming_latest_state_replay(
        spark, src, checkpoint=ckpt, state_dir=state,
        query_name="c89_restart", max_files_per_trigger=1,
    )

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = (
        events.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .drop("rn")
    )
    cols = ["user_id", "event_id", "ts", "event_type", "value"]
    assert sorted(map(tuple, out.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


# Where the package may touch the Structured Streaming entry points: one
# stream reader and one driver, so a second drive loop cannot grow back.
_STREAM_ENTRY_POINTS = {
    "readStream": "_events_stream",
    "writeStream": "_drive",
    "start": "_drive",
}


def test_one_stream_reader_and_one_driver():
    """Source scan of the package: ``readStream`` appears only inside
    ``streaming/windows.py::_events_stream`` and ``.writeStream``/``.start()``
    only inside ``streaming/windows.py::_drive``, once each."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "data_engineering_zoomcamp_my_test_spark"
    )
    hits = []
    for py in sorted(pkg.rglob("*.py")):
        tree = ast.parse(py.read_text())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(id(node), fn.name)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                if node.func.attr == "start" and not node.args:
                    hits.append(("start", py.name, owner.get(id(node.func))))
            elif isinstance(node, ast.Attribute) and node.attr in (
                "readStream",
                "writeStream",
            ):
                hits.append((node.attr, py.name, owner.get(id(node))))
    assert sorted(hits) == sorted(
        (attr, "windows.py", fn) for attr, fn in _STREAM_ENTRY_POINTS.items()
    ), hits
