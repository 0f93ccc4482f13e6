"""Randomized streaming-replay fuzzer: micro-batch state machines vs DuckDB.

The catalog referees the Structured Streaming path at ONE fixed parameter
point per operator (c66 tumbling 1h, c80 sliding 1h/30m, c78 session 30m —
all with maxFilesPerTrigger=1 over 4 hash-sliced drops).  This tool fuzzes
the dimensions that exercise the streaming STATE MACHINE itself and that no
batch test can reach:

- **window/slide/gap parameters** (including non-divisor widths — both
  engines align to the 1970 epoch, not to hour boundaries);
- **micro-batch slicing** (number of drop files x maxFilesPerTrigger):
  state for the same key/window must merge identically whether it was
  built in 1 batch or 16;
- **arrival order** ("hash" = arbitrary interleave, "reverse_time" =
  range-sliced descending timestamps, so late data arrives first and
  every batch reopens old windows/sessions).

Invariant under test: the FINAL complete-mode state of a watermarked
windowed/session aggregation over a bounded replay equals the batch
answer — verified against a parameter-templated DuckDB oracle with the
same comparator the catalog uses (tests/oracle.compare).

The invariant's DOMAIN differs by operator family, and this fuzzer's first
campaign is what measured the boundary (r8):

- **time windows (tumbling/sliding)**: exact for EVERY draw — any
  slicing, any arrival order, any watermark.  Complete-mode time-window
  aggregation neither filters late input nor evicts state.
- **session windows**: Spark FILTERS LATE INPUT by the watermark even
  in complete mode — rows older than the batch-start watermark are
  dropped before the session merge (measured: multi-batch replays of
  sf0.001 with tight watermarks lose sessions whenever arrival is out
  of order, e.g. 711/946 and 485/946; a controlled guaranteed-ascending
  replay with a 0s watermark loses NOTHING, proving complete mode never
  evicts session state).  Both arms pinned in tests/test_streaming.py.
  Session draws therefore stay inside the exactness domain: either a
  single micro-batch (any watermark) or a watermark >= the events
  table's ~30-day span (35/60 days — bounds the disorder of any arrival
  order), which still drives the cross-batch session-merge state
  machine on every multi-batch draw.
- **stream-stream interval join (attribution)**: same shape as session —
  append-mode join state expires past the watermark, so a match whose
  partner arrives later is lost (pinned in tests/test_streaming.py with
  a constructed two-batch case: 1-hour watermark loses the match, big
  watermark recovers it).  Attribution draws use the same safe domain
  as session.
- **at-least-once redelivery dedup**: every drop file is redelivered
  ``dup_factor`` times with strictly later mtimes (so copies land in
  LATER micro-batches and must hit keyed state, not intra-batch dedup);
  ``dropDuplicatesWithinWatermark`` must reduce the stream back to the
  base corpus row-for-row.  Full-span watermarks only — a tight
  watermark late-drops redelivered copies of old events in append mode,
  the same late-input filter as session.
- **custom stateful ledger (applyInPandasWithState, c88)**: exact for
  EVERY draw — integer-cents state is accumulation-order-free and the
  operator takes no watermark, so there is no exactness-domain
  carve-out at all; any failing draw is a real state-machine bug.

Every case derives from ``random.Random(f"{seed}:{i}")``:

    python tools/fuzz_streaming.py --n 30 --seed 7
    python tools/fuzz_streaming.py --seed 7 --emit 12   # print case 12
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_MONEY_SUM_VALUE = (
    "CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)"
)

# --- parameter templates -----------------------------------------------------
# Durations in minutes; products precomputed in Python (DuckDB evaluates
# small-literal products in INT32 and raises on overflow — repo convention).

WINDOW_POOL = [7, 11, 15, 30, 45, 60, 90, 120, 240]
GAP_POOL = [3, 7, 10, 17, 30, 34, 45, 61]
WATERMARK_POOL = ["0 seconds", "5 minutes", "10 minutes", "1 hour"]
N_FILES_POOL = [1, 2, 4, 8, 16]
TRIGGER_POOL = [1, 2, 4]
ORDER_POOL = ["hash", "reverse_time"]


def _gen_tumbling(rng: random.Random) -> dict:
    return {"window_minutes": rng.choice(WINDOW_POOL)}


def _gen_sliding(rng: random.Random) -> dict:
    # slide must divide the window: Spark requires window % slide == 0
    # only when both are expressed in months; for fixed durations any
    # slide <= window is accepted, but a non-divisor slide makes the
    # covering-window count vary per event — keep both classes.
    window = rng.choice([30, 45, 60, 90, 120])
    divisors = [s for s in (5, 9, 10, 15, 20, 30, 45, 60) if s <= window]
    return {"window_minutes": window, "slide_minutes": rng.choice(divisors)}


def _gen_session(rng: random.Random) -> dict:
    return {"gap_minutes": rng.choice(GAP_POOL)}


def _gen_attribution(rng: random.Random) -> dict:
    return {"attr_minutes": rng.choice([5, 10, 17, 30, 45, 61, 120])}


def _gen_dedup(rng: random.Random) -> dict:
    # dup_factor = how many times every drop file is redelivered (the
    # at-least-once source contract: Kafka redelivery, file re-drops)
    return {"dup_factor": rng.choice([2, 3])}


def _oracle_tumbling(p: dict) -> str:
    w_us = p["window_minutes"] * 60 * 1_000_000
    return f"""
        SELECT CAST(epoch_us(ts) // {w_us} * {w_us} AS BIGINT) AS window_start_us,
               event_type, COUNT(*) AS n_events,
               {_MONEY_SUM_VALUE} AS total_value
        FROM events GROUP BY 1, 2
    """


def _oracle_sliding(p: dict) -> str:
    # Spark's F.window(ts, W, S): event t belongs to every epoch-aligned
    # start k*S with t-W < start <= t.  Enumerate via j in [0, ceil(W/S))
    # offsets below the topmost covering start, then filter exactly.
    w_us = p["window_minutes"] * 60 * 1_000_000
    s_us = p["slide_minutes"] * 60 * 1_000_000
    k = -(-p["window_minutes"] // p["slide_minutes"])  # ceil
    return f"""
        WITH covers AS (
          SELECT value,
                 epoch_us(ts) AS t_us,
                 (epoch_us(ts) // {s_us}) * {s_us} - r.j * {s_us} AS w_start_us
          FROM events CROSS JOIN (SELECT unnest(range({k})) AS j) r
        )
        SELECT CAST(w_start_us AS BIGINT) AS window_start_us,
               COUNT(*) AS n_events,
               {_MONEY_SUM_VALUE} AS total_value
        FROM covers WHERE w_start_us > t_us - {w_us}
        GROUP BY 1
    """


def _oracle_session(p: dict) -> str:
    # template of operators/events.py ORACLE["c78_streaming_session"]:
    # session_window end = last event + gap.
    gap_us = p["gap_minutes"] * 60 * 1_000_000
    return f"""
        WITH flagged AS (
          SELECT user_id, value, event_id, epoch_us(ts) AS ts_us,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {gap_us}
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
               MAX(ts_us) + {gap_us} AS session_end_us,
               COUNT(*) AS n_events,
               {_MONEY_SUM_VALUE} AS total_value
        FROM numbered GROUP BY user_id, seq
    """


def _oracle_attribution(p: dict) -> str:
    # batch twin of the stream-stream interval join (events.py c72 shape,
    # templated by the attribution window)
    w_us = p["attr_minutes"] * 60 * 1_000_000
    return f"""
        SELECT p.user_id AS p_user,
               p.event_id AS purchase_id,
               v.event_id AS view_id,
               epoch_us(v.ts) AS view_us,
               epoch_us(p.ts) AS purchase_us
        FROM events v JOIN events p
          ON v.user_id = p.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND epoch_us(p.ts) >= epoch_us(v.ts)
         AND epoch_us(p.ts) <= epoch_us(v.ts) + {w_us}
    """


def _oracle_dedup(p: dict) -> str:
    # The dedup target IS the base corpus: every drop file is redelivered
    # dup_factor times with identical rows, and dropDuplicatesWithinWatermark
    # must emit each event_id exactly once whichever arrival wins (copies
    # are bit-identical, so "which arrival" is unobservable).  value is
    # compared at the money grain both sides (2dp decimal -> double).
    return """
        SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
               CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value_2dp,
               props
        FROM events
    """


def _gen_ledger(rng: random.Random) -> dict:
    # no op-specific params: the point is the COMMON draws — n_files x
    # max_files_per_trigger x arrival order. Integer-cents state makes the
    # final ledger exact under EVERY combination (no watermark dependence,
    # no exactness-domain carve-out) — any failure is a real state bug.
    return {}


def _gen_upsert(rng: random.Random) -> dict:
    # latest-wins MERGE (c89): exact under EVERY draw — the winner per
    # key is a total order over (ts, event_id), state is epoch-versioned,
    # and there is no watermark dependence, so (like ledger) any failing
    # draw is a real merge/state bug, not an exactness-domain artifact.
    # dup_factor=1 means no redelivery; >1 redelivers every file into
    # later micro-batches, which must be a no-op for the final table.
    return {"dup_factor": rng.choice([1, 2, 3])}


def _oracle_upsert(p: dict) -> str:
    # the final upsert table IS the batch latest-per-user answer
    return """
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
    """


def _run_upsert(spark, drop_dir: str, p: dict, tag: str):
    import os
    import time as _time

    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        run_streaming_latest_state_replay,
    )

    base_files = sorted(
        f for f in os.listdir(drop_dir) if f.endswith(".parquet")
    )
    now = _time.time()
    for r in range(1, p["dup_factor"]):
        for fname in base_files:
            dst = os.path.join(drop_dir, f"redeliver_{r}_{fname}")
            shutil.copyfile(os.path.join(drop_dir, fname), dst)
            t = now + 2.0 * r
            os.utime(dst, (t, t))
    ckpt = tempfile.mkdtemp(prefix=f"sfuzz_ckpt_{tag}_")
    state = tempfile.mkdtemp(prefix=f"sfuzz_state_{tag}_")
    try:
        out = run_streaming_latest_state_replay(
            spark,
            drop_dir,
            checkpoint=ckpt,
            state_dir=state,
            query_name=f"sfuzz_{tag}",
            max_files_per_trigger=p["max_files_per_trigger"],
        )
        out = out.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
        mat = spark.createDataFrame(out.collect(), out.schema)
        LAST_BATCH_COUNTS[tag] = _input_batches(f"sfuzz_{tag}")
        return mat
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(state, ignore_errors=True)


def _oracle_ledger(p: dict) -> str:
    # the custom stateful ledger's final state IS the batch rollup
    return """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_value
        FROM events GROUP BY user_id
    """


def _run_ledger(spark, drop_dir: str, p: dict, tag: str):
    from data_engineering_zoomcamp_my_test_spark.streaming.stateful import (
        streaming_user_ledger_exact,
    )

    ckpt = tempfile.mkdtemp(prefix=f"sfuzz_ckpt_{tag}_")
    sink = tempfile.mkdtemp(prefix=f"sfuzz_sink_{tag}_")
    try:
        out = streaming_user_ledger_exact(
            spark,
            drop_dir,
            checkpoint=ckpt,
            sink_dir=sink,
            query_name=f"sfuzz_{tag}",
            max_files_per_trigger=p["max_files_per_trigger"],
        )
        LAST_BATCH_COUNTS[tag] = _input_batches(f"sfuzz_{tag}")
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def _input_batches(query_name: str) -> int:
    """Input-carrying micro-batch count (numInputRows > 0) of the last
    streaming run under ``query_name``.  Counting data-carrying sink
    epochs instead under-counts dedup replays, whose redelivery batches
    consume input rows but emit zero output rows (ADVICE r11)."""
    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        LAST_RUN_BATCHES,
    )

    return LAST_RUN_BATCHES.get(query_name, 0)


OPERATORS: dict[str, dict] = {
    "tumbling": {"gen": _gen_tumbling, "oracle": _oracle_tumbling},
    "sliding": {"gen": _gen_sliding, "oracle": _oracle_sliding},
    "session": {"gen": _gen_session, "oracle": _oracle_session},
    "attribution": {"gen": _gen_attribution, "oracle": _oracle_attribution},
    "dedup": {"gen": _gen_dedup, "oracle": _oracle_dedup},
    "ledger": {"gen": _gen_ledger, "oracle": _oracle_ledger},
    "upsert": {"gen": _gen_upsert, "oracle": _oracle_upsert},
}


SESSION_SAFE_WATERMARKS = ["35 days", "60 days"]

# tag -> number of DATA-CARRYING micro-batches the last replay for that tag
# actually ran (recentProgress entries with numInputRows > 0 after
# processAllAvailable; zero-row ticks excluded per ADVICE r10). Lets tests
# PIN that a max_files_per_trigger draw produced a genuinely multi-batch
# replay instead of collapsing into one batch (ADVICE r9: dedup silently did).
LAST_BATCH_COUNTS: dict[str, int] = {}


def gen_case(seed, i: int, ops: list[str] | None = None) -> tuple[str, dict]:
    rng = random.Random(f"{seed}:{i}")
    name = rng.choice(sorted(ops or OPERATORS))
    params = OPERATORS[name]["gen"](rng)
    params["n_files"] = rng.choice(N_FILES_POOL)
    params["max_files_per_trigger"] = rng.choice(TRIGGER_POOL)
    params["order"] = rng.choice(ORDER_POOL)
    params["watermark"] = rng.choice(WATERMARK_POOL)
    if name == "dedup":
        # Exactness domain: a watermark covering the full event span keeps
        # redelivered copies of early events from being late-dropped in
        # append mode — the multi-batch redelivery path is the point of
        # the op, so (unlike session) the single-batch escape is not used.
        params["watermark"] = rng.choice(SESSION_SAFE_WATERMARKS)
    if name in ("session", "attribution"):
        # stay inside the measured exactness domain (module docstring):
        # single batch with any watermark, or multi-batch with a
        # watermark covering the ~30-day event span.  (Attribution is a
        # stream-stream append-mode join: its watermark semantics —
        # late-input drop / state expiry — lose matches whose partner
        # arrives late, same exactness-domain shape as session.)
        if rng.random() < 0.5:
            params["n_files"] = rng.choice([1, 2, 4])
            params["max_files_per_trigger"] = 4
        else:
            params["watermark"] = rng.choice(SESSION_SAFE_WATERMARKS)
    return name, params


# --- replay ------------------------------------------------------------------


def _land_drops(spark, sf_dir: str, p: dict, drop_dir: str) -> None:
    """Re-land events as ``n_files`` parquet drops in the chosen arrival
    order.  hash = arbitrary interleave (repartition); reverse_time =
    range-sliced on descending ts, so the FIRST-read slice holds the
    LATEST events and every later micro-batch reopens earlier windows/
    sessions.

    reverse_time lands the slices SEQUENTIALLY with strictly increasing,
    explicitly stamped mtimes (ADVICE r8): a single n-part write gives
    every part file one mtime, and Spark's file source orders same-mtime
    files arbitrarily — the exact nondeterminism that first misread the
    session-watermark finding (BASELINE.md).  With distinct mtimes the
    source's ascending-mtime listing replays latest-events-first
    deterministically instead of best-effort."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    n = p["n_files"]
    if p["order"] != "reverse_time":
        ev.repartition(n).write.mode("overwrite").parquet(drop_dir)
        return

    sliced = (
        ev.repartitionByRange(n, F.desc("ts"), F.desc("event_id"))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        sliced.count()
        # Stamp each slice 2s apart, ending "now": strictly increasing and
        # filesystem-granularity-proof without sleeping between writes.
        base = _time.time() - 2.0 * n
        stamped: set[str] = set()
        for i in range(n):
            (
                sliced.filter(F.col("_pid") == i)
                .drop("_pid")
                .coalesce(1)
                .write.mode("append")
                .parquet(drop_dir)
            )
            t = base + 2.0 * i
            for name in os.listdir(drop_dir):
                path = os.path.join(drop_dir, name)
                if path not in stamped and os.path.isfile(path):
                    os.utime(path, (t, t))
                    stamped.add(path)
    finally:
        sliced.unpersist()


def _run_attribution(spark, drop_dir: str, p: dict, tag: str):
    """Replay the stream-stream interval join through c86's epoch-scoped
    exactly-once parquet sink."""
    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        run_streaming_attribution_replay,
    )

    ckpt = tempfile.mkdtemp(prefix=f"sfuzz_ckpt_{tag}_")
    sink = tempfile.mkdtemp(prefix=f"sfuzz_sink_{tag}_")
    try:
        out = run_streaming_attribution_replay(
            spark,
            drop_dir,
            checkpoint=ckpt,
            sink_dir=sink,
            query_name=f"sfuzz_{tag}",
            attribution_window=f"{p['attr_minutes']} minutes",
            watermark=p["watermark"],
            max_files_per_trigger=p["max_files_per_trigger"],
        ).select(
            "p_user",
            "purchase_id",
            "view_id",
            F.unix_micros("view_ts").alias("view_us"),
            F.unix_micros("purchase_ts").alias("purchase_us"),
        )
        # materialize before the sink dir is reclaimed below
        mat = spark.createDataFrame(out.collect(), out.schema)
        LAST_BATCH_COUNTS[tag] = _input_batches(f"sfuzz_{tag}")
        return mat
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def _run_dedup(spark, drop_dir: str, p: dict, tag: str):
    """At-least-once redelivery: copy every landed drop file
    ``dup_factor - 1`` more times with strictly LATER mtimes, so the
    ascending-mtime file listing delivers the redeliveries in later
    micro-batches (the state-crossing case, not just intra-batch dedup),
    then replay through c87's ``dropDuplicatesWithinWatermark`` arm, which
    must reduce the stream back to the base corpus."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        run_streaming_dedup_replay,
    )

    base_files = sorted(
        f for f in os.listdir(drop_dir) if f.endswith(".parquet")
    )
    now = _time.time()
    for r in range(1, p["dup_factor"]):
        for fname in base_files:
            dst = os.path.join(drop_dir, f"redeliver_{r}_{fname}")
            shutil.copyfile(os.path.join(drop_dir, fname), dst)
            t = now + 2.0 * r
            os.utime(dst, (t, t))
    ckpt = tempfile.mkdtemp(prefix=f"sfuzz_ckpt_{tag}_")
    sink = tempfile.mkdtemp(prefix=f"sfuzz_sink_{tag}_")
    try:
        out = run_streaming_dedup_replay(
            spark,
            drop_dir,
            checkpoint=ckpt,
            sink_dir=sink,
            query_name=f"sfuzz_{tag}",
            key_cols=("event_id",),
            watermark=p["watermark"],
            max_files_per_trigger=p["max_files_per_trigger"],
        ).select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
            F.col("value").cast("decimal(18,2)").cast("double").alias("value_2dp"),
            "props",
        )
        mat = spark.createDataFrame(out.collect(), out.schema)
        LAST_BATCH_COUNTS[tag] = _input_batches(f"sfuzz_{tag}")
        return mat
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def run_case(spark, sf_dir: str, name: str, p: dict, tag: str):
    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        run_streaming_session_agg,
        run_streaming_sliding_agg,
        run_streaming_tumbling_agg,
    )

    drop_dir = tempfile.mkdtemp(prefix=f"sfuzz_{tag}_")
    try:
        _land_drops(spark, sf_dir, p, drop_dir)
        common = dict(
            query_name=f"sfuzz_{tag}",
            watermark=p["watermark"],
            max_files_per_trigger=p["max_files_per_trigger"],
        )
        if name == "tumbling":
            df = run_streaming_tumbling_agg(
                spark, drop_dir, window=f"{p['window_minutes']} minutes", **common
            )
        elif name == "sliding":
            df = run_streaming_sliding_agg(
                spark,
                drop_dir,
                window=f"{p['window_minutes']} minutes",
                slide=f"{p['slide_minutes']} minutes",
                **common,
            )
        elif name == "attribution":
            df = _run_attribution(spark, drop_dir, p, tag)
        elif name == "dedup":
            df = _run_dedup(spark, drop_dir, p, tag)
        elif name == "ledger":
            df = _run_ledger(spark, drop_dir, p, tag)
        elif name == "upsert":
            df = _run_upsert(spark, drop_dir, p, tag)
        else:
            df = run_streaming_session_agg(
                spark, drop_dir, gap=f"{p['gap_minutes']} minutes", **common
            )
        # Materialize before the drops vanish.
        df = spark.createDataFrame(df.collect(), df.schema)
    finally:
        shutil.rmtree(drop_dir, ignore_errors=True)
    return df


def run_campaign(
    spark,
    sf_dir: str,
    n: int,
    seed,
    ops: list[str] | None = None,
    max_failures: int = 10,
) -> dict:
    from tests.oracle import compare

    ok = 0
    per_op: dict[str, int] = {}
    failures: list[dict] = []
    errors: list[dict] = []
    for i in range(n):
        name, p = gen_case(seed, i, ops)
        label = f"{name}:{json.dumps(p, sort_keys=True)}"
        try:
            df = run_case(spark, sf_dir, name, p, tag=f"{i}")
            res = compare(f"sfuzz_{i}", df, OPERATORS[name]["oracle"](p), sf_dir)
        except Exception as exc:
            errors.append({"i": i, "case": label, "err": f"{type(exc).__name__}: {exc}"})
            if len(errors) + len(failures) >= max_failures:
                break
            continue
        if res.ok:
            ok += 1
            per_op[name] = per_op.get(name, 0) + 1
        else:
            failures.append({"i": i, "case": label, "mismatches": res.mismatches[:4]})
            if len(errors) + len(failures) >= max_failures:
                break
    return {
        "metric": "fuzz_streaming",
        "sf_dir": sf_dir,
        "n": n,
        "seed": str(seed),
        "ok": ok,
        "per_op": per_op,
        "fail": len(failures),
        "err": len(errors),
        "failures": failures,
        "errors": errors,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n", type=int, default=30)
    ap.add_argument("--seed", default="7")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    )
    ap.add_argument("--ops", default=None, help="comma list from: " + ",".join(OPERATORS))
    ap.add_argument("--emit", type=int, default=None, help="print case i and exit")
    args = ap.parse_args()

    ops = args.ops.split(",") if args.ops else None
    if args.emit is not None:
        name, p = gen_case(args.seed, args.emit, ops)
        print(name, json.dumps(p, sort_keys=True))
        print(OPERATORS[name]["oracle"](p))
        return 0

    from data_engineering_zoomcamp_my_test_spark.session import EngineConfig, get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        EngineConfig(
            master=f"local[{cpus}]", shuffle_partitions=cpus, app_name="fuzz_streaming"
        )
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    out = run_campaign(spark, args.sf_dir, args.n, args.seed, ops)
    out["wall_s"] = round(time.time() - t0, 1)
    print(json.dumps(out))
    return 1 if (out["fail"] or out["err"]) else 0


if __name__ == "__main__":
    raise SystemExit(main())
