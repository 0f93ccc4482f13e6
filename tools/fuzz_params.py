"""Randomized-PARAMETER differential fuzzer for the Tier-C operator API.

The catalog verifies each operator at ONE fixed parameter point (c9 at a
30-minute gap, c82 at [p5, p95], c40 at k=3 ...).  The round-6 c82 bug —
`was_clipped` flipping on values landing exactly on a percentile band
edge — was a *parameter-boundary* bug: it existed at every (lo, hi) but
only bit when data met the band edge.  This tool sweeps the parameter
space: for each draw it calls the PUBLIC operator function with random
parameters and compares the full result against a parameter-templated
DuckDB oracle (the same oracle SQL the catalog pins, with the constants
substituted).

Beyond parameter coverage, the top-k entry randomizes the PHYSICAL
strategy too: `n_salt` forces the salted-aggregation arm, so both plans
(WindowGroupLimit window vs two-phase salted agg) are refereed against
the single window-formulation oracle.

Deterministic from (seed, index), mirroring tools/fuzz_differential.py:

    python tools/fuzz_params.py --n 120 --seed 7
    python tools/fuzz_params.py --seed 7 --emit 42   # show op+params 42

Oracle templates are derived from (and cite) the catalog oracles in
operators/events.py ORACLE / operators/analytics.py ORACLE; results are
compared with tests/oracle.compare, falling back to the engine-side
exact digest for results past --row-cap (small buckets in
resample_ffill legitimately produce multi-million-row grids).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

from pyspark import StorageLevel

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F

from data_engineering_zoomcamp_my_test_spark.functions.exprs import dmoney_sum, money
from data_engineering_zoomcamp_my_test_spark.operators.analytics import (
    top_k_per_group_agg,
    winsorize,
)
from data_engineering_zoomcamp_my_test_spark.operators.events import (
    mad_anomaly,
    resample_ffill,
    sessionize,
)
from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

_MONEY_SUM_VALUE = "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"


# --- parameterized operator registry -----------------------------------------
# Each entry: gen(rng) -> params dict; spark(spark, sf_dir, p) -> DataFrame;
# oracle(p) -> DuckDB SQL string with the same output column names.


def _sessionize_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    return sessionize(
        load_table(spark, sf_dir, "events"), gap_minutes=p["gap_minutes"]
    ).select(
        "user_id", "session_seq", "session_start_us", "session_end_us",
        "n_events", "total_value",
    )


def _sessionize_oracle(p: dict) -> str:
    # template of operators/events.py ORACLE["c9_session"].  The gap is
    # precomputed in Python: DuckDB evaluates `g * 60 * 1000000` in INT32
    # and raises on overflow for any gap > 35 minutes (the catalog's fixed
    # 30-minute literal fits with 16% headroom — a latent template hazard
    # this fuzzer exposed on its first run).
    gap_us = p["gap_minutes"] * 60 * 1_000_000
    return f"""
        WITH flagged AS (
          SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                        > {gap_us}
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
               {_MONEY_SUM_VALUE} AS total_value
        FROM numbered GROUP BY user_id, session_seq
    """


def _winsorize_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    return winsorize(load_table(spark, sf_dir, "events"), lo=p["lo"], hi=p["hi"])


def _winsorize_oracle(p: dict) -> str:
    # template of operators/analytics.py ORACLE["c82_winsorize"]
    return f"""
        WITH bands AS (
          SELECT event_type,
                 quantile_cont(value, {p["lo"]!r}) AS plo,
                 quantile_cont(value, {p["hi"]!r}) AS phi
          FROM events GROUP BY 1
        )
        SELECT event_id, event_type, value,
               ROUND(least(greatest(value, plo), phi), 6) AS value_winsorized,
               (ROUND(value, 6) != ROUND(least(greatest(value, plo), phi), 6))
                 AS was_clipped
        FROM events JOIN bands USING (event_type)
    """


def _tumbling_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", f"{p['width_minutes']} minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dmoney_sum(money("value"), "total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type", "n_events", "total_value",
        )
    )


def _tumbling_oracle(p: dict) -> str:
    # integer bucket arithmetic instead of date_trunc so ANY width works:
    # Spark's F.window aligns to the 1970 epoch, and so does floor-division
    # of epoch microseconds by the window width.
    w_us = p["width_minutes"] * 60 * 1_000_000
    return f"""
        SELECT CAST(epoch_us(ts) // {w_us} * {w_us} AS BIGINT) AS window_start_us,
               event_type, COUNT(*) AS n_events,
               {_MONEY_SUM_VALUE} AS total_value
        FROM events GROUP BY 1, 2
    """


def _topk_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    return top_k_per_group_agg(
        load_table(spark, sf_dir, "orders"),
        "o_custkey", "o_totalprice", "o_orderkey",
        p["k"], n_salt=p["n_salt"],
    )


def _topk_oracle(p: dict) -> str:
    # template of operators/analytics.py ORACLE["c40_topk_agg"] — the window
    # formulation referees BOTH physical arms (n_salt=None -> window plan,
    # n_salt=int -> salted two-phase agg).
    return f"""
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
          FROM orders
        ) t WHERE rn <= {p["k"]}
    """


def _mad_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    return mad_anomaly(load_table(spark, sf_dir, "events"), threshold=p["threshold"])


def _mad_oracle(p: dict) -> str:
    # template of operators/events.py ORACLE["c77_mad_anomaly"]
    return f"""
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
        WHERE dev > {p["threshold"]!r} * scale
    """


def _resample_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    return resample_ffill(
        load_table(spark, sf_dir, "events"), bucket_s=p["bucket_s"]
    )


def _resample_oracle(p: dict) -> str:
    # template of operators/events.py ORACLE["c61_resample_ffill"]
    return f"""
        WITH obs AS (
          SELECT user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) // {p["bucket_s"]} AS b,
                 MAX(value) AS v_obs
          FROM events GROUP BY 1, 2
        ),
        span AS (SELECT user_id, MIN(b) AS mn, MAX(b) AS mx FROM obs GROUP BY 1),
        grid AS (
          SELECT user_id, unnest(generate_series(mn, mx)) AS b FROM span
        )
        SELECT g.user_id,
               CAST(g.b * {p["bucket_s"]} AS BIGINT) AS bucket_epoch_s,
               last_value(o.v_obs IGNORE NULLS) OVER (
                 PARTITION BY g.user_id ORDER BY g.b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
               (o.v_obs IS NULL) AS is_gap
        FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.b = o.b
    """


def _chunk_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.text import chunk_windows

    return chunk_windows(
        load_table(spark, sf_dir, "documents"),
        window=p["window"], stride=p["stride"],
    )


def _chunk_oracle(p: dict) -> str:
    # template of operators/text.py ORACLE["c74_chunk_windows"]
    w, st = p["window"], p["stride"]
    return f"""
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 len(string_split(text, ' ')) AS n
          FROM documents
        ),
        k AS (
          SELECT doc_id, toks,
                 1 + CAST(ceil(greatest(n - {w}, 0) / {st}.0) AS BIGINT) AS k
          FROM t
        )
        SELECT doc_id,
               CAST(i - 1 AS INT) AS chunk_id,
               CAST((i - 1) * {st} AS INT) AS start_tok,
               CAST(len(toks[(i-1)*{st} + 1 : (i-1)*{st} + {w}]) AS INT) AS n_tok,
               array_to_string(
                 toks[(i-1)*{st} + 1 : (i-1)*{st} + {w}], ' '
               ) AS chunk_text
        FROM k, UNNEST(generate_series(1, k)) AS u(i)
    """


def _attribution_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        batch_view_purchase_attribution,
    )

    out = batch_view_purchase_attribution(
        load_table(spark, sf_dir, "events"),
        attribution_window=f"{p['lookback_minutes']} minutes",
    )
    return out.select(
        "p_user", "purchase_id", "view_id",
        F.unix_micros("view_ts").alias("view_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
    )


def _attribution_oracle(p: dict) -> str:
    # template of operators/events.py ORACLE["c72_attribution_join"]
    return f"""
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
          AND purchase_ts <= view_ts + INTERVAL '{p["lookback_minutes"]} minutes'
    """


def _rolling_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    width_us = p["width_s"] * 1_000_000
    ts_us = F.unix_micros("ts")
    w = W.partitionBy("user_id").orderBy(ts_us).rangeBetween(-width_us, 0)
    return ev.select(
        "event_id", "user_id", ts_us.alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_events_w"),
        F.sum(money("value")).over(w).cast("double").alias("value_w"),
    )


def _rolling_oracle(p: dict) -> str:
    # template of operators/analytics.py ORACLE["c34_rolling_1h"]
    width_us = p["width_s"] * 1_000_000
    return f"""
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               COUNT(*) OVER w AS n_events_w,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_w
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN {width_us} PRECEDING AND CURRENT ROW)
    """


def _gen_chunk(rng: random.Random) -> dict:
    window = rng.choice([4, 8, 16, 32, 64, 128])
    # 1 <= stride <= window: the operator's validated coverage contract.
    # Probing beyond it (first p3 campaign) found the zero-token tail
    # chunk whose representation is engine-dependent — chunk_windows now
    # rejects such strides outright (operators/text.py).
    stride = rng.choice(
        [1, max(1, window // 4), max(1, window // 2), max(1, window - 1), window]
    )
    return {"window": window, "stride": stride}


def _budget_mix_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.text import token_budget_mix

    return token_budget_mix(
        load_table(spark, sf_dir, "documents"), budget_tokens=p["budget_tokens"]
    )


def _budget_mix_oracle(p: dict) -> str:
    # template of operators/text.py ORACLE["c49_token_budget_mix"]
    return f"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
                 md5(text) AS h
          FROM documents
        ),
        c AS (
          SELECT doc_id, source, n_tok,
                 CAST(SUM(CAST(n_tok AS BIGINT)) OVER (
                   PARTITION BY source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS cum_tokens
          FROM t
        )
        SELECT doc_id, source, n_tok, cum_tokens
        FROM c WHERE cum_tokens <= {p["budget_tokens"]}
    """


def _pack_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.text import pack_sequences

    return pack_sequences(
        load_table(spark, sf_dir, "documents"), seq_len=p["seq_len"]
    )


def _pack_oracle(p: dict) -> str:
    # template of operators/text.py ORACLE["c50_pack_sequences"]
    s = p["seq_len"]
    return f"""
        WITH t AS (
          SELECT doc_id, source,
                 CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
                 md5(text) AS h
          FROM documents
        ),
        c AS (
          SELECT doc_id, source, n_tok,
                 SUM(CAST(n_tok AS BIGINT)) OVER (
                   PARTITION BY source ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) - n_tok AS start
          FROM t
        )
        SELECT doc_id, source, n_tok,
               CAST(floor(CAST(start AS DOUBLE) / {s}) AS BIGINT) AS seq_id,
               CAST(start % {s} AS BIGINT) AS seq_offset
        FROM c
    """


def _strat_sample_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.analytics import (
        stratified_sample_exact,
    )

    return stratified_sample_exact(
        load_table(spark, sf_dir, "documents"), "source", p["fraction"]
    ).select("doc_id", "source")


def _strat_sample_oracle(p: dict) -> str:
    # template of operators/analytics.py ORACLE["c73_stratified_sample_exact"].
    # ceil(n * frac) evaluates in IEEE doubles on BOTH sides, so whatever
    # the FP product is, the row count agrees.
    return f"""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM documents
        ) WHERE rn <= CEIL(n * {p["fraction"]!r})
    """


def _asof_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.analytics import (
        asof_join_last_event,
    )

    return asof_join_last_event(
        load_table(spark, sf_dir, "events"), match_type=p["match_type"]
    )


def _asof_oracle(p: dict) -> str:
    # template of operators/analytics.py ORACLE["c23_asof_join"].  Output
    # column names stay last_purchase_* by the operator's contract
    # regardless of match_type.
    mt = p["match_type"]
    return f"""
        SELECT event_id, user_id, event_type,
               last_value(CASE WHEN event_type = '{mt}' THEN event_id END
                          IGNORE NULLS) OVER w AS last_purchase_id,
               last_value(CASE WHEN event_type = '{mt}' THEN epoch_us(ts) END
                          IGNORE NULLS) OVER w AS last_purchase_ts_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    """


def _histogram_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / p["width"]).cast("bigint")
    return ev.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        dmoney_sum(money("value"), "bucket_sum"),
    )


def _histogram_oracle(p: dict) -> str:
    # template of operators/analytics.py ORACLE["c25_histogram"]; the
    # bucket division runs in IEEE doubles on both sides
    return f"""
        SELECT CAST(FLOOR(value / {p["width"]}) AS BIGINT) AS bucket,
               COUNT(*) AS n,
               {_MONEY_SUM_VALUE} AS bucket_sum
        FROM events GROUP BY 1
    """


def _percentiles_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    lo, hi = p["lo"], p["hi"]
    # ROUND(.., 6) on interpolated points is the published contract, not
    # comparison slack: this fuzzer's first sf1 campaign (seed p11)
    # measured a one-ulp Spark-vs-DuckDB split in the RAW interpolation
    # at p99 over 1M rows (230.53 vs 230.53000000000003) — the same ulp
    # class as the r6 c82 band-edge bug.  c24 now publishes the same
    # grain (operators/analytics.py).
    return ev.groupBy("event_type").agg(
        F.round(F.expr(f"percentile(value, {lo!r})"), 6).alias("p_lo"),
        F.round(F.expr(f"percentile(value, {hi!r})"), 6).alias("p_hi"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )


def _percentiles_oracle(p: dict) -> str:
    # template of operators/analytics.py ORACLE["c24_percentiles"]
    return f"""
        SELECT event_type,
               ROUND(quantile_cont(value, {p["lo"]!r}), 6) AS p_lo,
               ROUND(quantile_cont(value, {p["hi"]!r}), 6) AS p_hi,
               MIN(value) AS v_min,
               MAX(value) AS v_max
        FROM events GROUP BY event_type
    """


def _shard_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.text import shard_assign

    return shard_assign(load_table(spark, sf_dir, "documents"), n_shards=p["n_shards"])


def _shard_oracle(p: dict) -> str:
    # template of operators/text.py ORACLE["c59_shard_assign"]
    n = p["n_shards"]
    return f"""
        WITH h AS (
          SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS h FROM documents
        )
        SELECT doc_id, CAST(h % {n} AS INT) AS shard_id,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY h % {n} ORDER BY h, doc_id) - 1 AS BIGINT)
                 AS shard_pos
        FROM h
    """


def _negsamp_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.similarity import (
        negative_sampling,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return negative_sampling(emb, emb.filter(F.col("vec_id") < p["q_cap"]), k=p["k"])


def _negsamp_oracle(p: dict) -> str:
    # template of operators/similarity.py ORACLE["c67_negative_sampling"]
    return f"""
        WITH n AS (SELECT COUNT(*) AS cnt FROM embeddings),
        draws AS (
          SELECT vec_id, label AS qlabel,
                 CAST(unnest(generate_series(1, {p["k"]})) AS BIGINT) AS j
          FROM embeddings WHERE vec_id < {p["q_cap"]}
        ),
        raw AS (
          SELECT vec_id, qlabel, j,
                 (vec_id * 2654435761 + j * 97) % cnt AS nraw, cnt
          FROM draws, n
        ),
        pick AS (
          SELECT vec_id, qlabel, j,
                 CAST(CASE WHEN nraw = vec_id THEN (nraw + 1) % cnt
                      ELSE nraw END AS BIGINT) AS neg_id
          FROM raw
        )
        SELECT p.vec_id, p.j, p.neg_id,
               (e.label = p.qlabel) AS neg_same_label
        FROM pick p JOIN embeddings e ON e.vec_id = p.neg_id
    """


def _mixture_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.text import mixture_weights

    return mixture_weights(
        load_table(spark, sf_dir, "documents"),
        alpha=p["alpha"],
        doc_budget=p["doc_budget"],
    )


def _mixture_oracle(p: dict) -> str:
    # template of operators/text.py ORACLE["c60_mixture_weights"]
    return f"""
        WITH per AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        ),
        sc AS (
          SELECT source, n_docs, n_tokens,
                 pow(CAST(n_tokens AS DOUBLE), {p["alpha"]}) AS wraw,
                 SUM(pow(CAST(n_tokens AS DOUBLE), {p["alpha"]})) OVER () AS wsum,
                 SUM(CAST(n_tokens AS DOUBLE)) OVER () AS toksum
          FROM per
        )
        SELECT source, n_docs, n_tokens,
               ROUND(wraw / wsum, 6) AS mix_weight,
               ROUND((wraw / wsum) / (n_tokens / toksum), 6) AS oversample,
               CAST(ROUND(ROUND(wraw / wsum, 6) * {p["doc_budget"]}, 0) AS BIGINT)
                 AS target_docs
        FROM sc
    """


def _oov_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.text import oov_rate

    return oov_rate(load_table(spark, sf_dir, "documents"), vocab_size=p["vocab_size"])


def _oov_oracle(p: dict) -> str:
    # template of operators/text.py ORACLE["c68_oov_rate"]; the vocab LIMIT
    # boundary is a total order (count desc, token asc), so any size is
    # deterministic in both engines.
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        vocab AS (
          SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1
            ORDER BY c DESC, tok LIMIT {p["vocab_size"]}
          )
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_oov,
               ROUND(CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 6) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY t.doc_id
    """


def _psi_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.text import length_drift_psi

    docs = load_table(spark, sf_dir, "documents")
    return length_drift_psi(
        docs.filter(F.col("source") == "src1"),
        docs.filter(F.col("source") == "src2"),
        n_buckets=p["n_buckets"],
        bucket_width=p["bucket_width"],
    )


def _psi_oracle(p: dict) -> str:
    # template of operators/text.py ORACLE["c70_length_drift_psi"]
    cap = p["n_buckets"] - 1
    w = p["bucket_width"]
    return f"""
        WITH a AS (
          SELECT LEAST(CAST(FLOOR(len(string_split(text, ' ')) / {w}) AS INT), {cap})
                   AS bucket, COUNT(*) AS n_a
          FROM documents WHERE source = 'src1' GROUP BY 1
        ),
        b AS (
          SELECT LEAST(CAST(FLOOR(len(string_split(text, ' ')) / {w}) AS INT), {cap})
                   AS bucket, COUNT(*) AS n_b
          FROM documents WHERE source = 'src2' GROUP BY 1
        ),
        cells AS (
          SELECT COALESCE(a.bucket, b.bucket) AS bucket,
                 COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
          FROM a FULL JOIN b ON a.bucket = b.bucket
        ),
        shares AS (
          SELECT bucket, n_a, n_b,
                 CAST(n_a AS DOUBLE) / SUM(n_a) OVER () + 1e-6 AS p_a,
                 CAST(n_b AS DOUBLE) / SUM(n_b) OVER () + 1e-6 AS p_b
          FROM cells
        )
        SELECT bucket, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               ROUND((p_a - p_b) * ln(p_a / p_b), 6) AS psi_contrib
        FROM shares
    """


def _feat_hash_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.text import feature_hashing

    return feature_hashing(load_table(spark, sf_dir, "documents"), dim=p["dim"])


def _feat_hash_oracle(p: dict) -> str:
    # template of operators/text.py ORACLE["c71_feature_hashing"].  Spark's
    # sign bit truncates fp/dim via double division; exact for fp < 2^30
    # because the nearest integer boundary is >= 1/dim away while division
    # error is ~2^-23 of the quotient.
    from data_engineering_zoomcamp_my_test_spark.operators.text import _FP_MOD

    d = p["dim"]
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        hashed AS (
          SELECT doc_id,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(tok, ''),
                       ch -> CAST(ascii(ch) AS BIGINT))),
                   (acc, x) -> (acc * 31 + x) % {_FP_MOD}) AS fp
          FROM toks WHERE tok <> ''
        )
        SELECT doc_id, CAST(fp % {d} AS INT) AS dim,
               CAST(SUM(CASE WHEN (fp // {d}) % 2 = 0 THEN 1 ELSE -1 END)
                 AS DOUBLE) AS value
        FROM hashed GROUP BY 1, 2
    """


def _bigram_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.text import bigram_stats

    return bigram_stats(load_table(spark, sf_dir, "documents"), top_heads=p["top_heads"])


def _bigram_oracle(p: dict) -> str:
    # template of operators/text.py ORACLE["c65_bigram_stats"]; the LIMIT
    # boundary order (n_total DESC, w1) is total because w1 is unique per row.
    return f"""
        WITH t AS (
          SELECT string_split(text, ' ') AS w FROM documents
          WHERE len(string_split(text, ' ')) >= 2
        ),
        bg AS (
          SELECT w[i] AS w1, w[i + 1] AS w2
          FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM t)
        ),
        cnt AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        agg AS (
          SELECT w1, CAST(COUNT(*) AS BIGINT) AS n_cont,
                 CAST(SUM(c) AS BIGINT) AS n_total
          FROM cnt GROUP BY 1
        ),
        top AS (
          SELECT w1, w2, c, ROW_NUMBER() OVER (
            PARTITION BY w1 ORDER BY c DESC, w2) AS rn
          FROM cnt
        )
        SELECT agg.w1, n_cont, n_total, top.w2 AS top_w2,
               ROUND(CAST(top.c AS DOUBLE) / n_total, 6) AS top_prob
        FROM agg JOIN top ON agg.w1 = top.w1 AND top.rn = 1
        ORDER BY n_total DESC, agg.w1 LIMIT {p["top_heads"]}
    """


def _dup_spans_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import dup_spans

    return dup_spans(load_table(spark, sf_dir, "documents"), k=p["k"])


def _dup_spans_oracle(p: dict) -> str:
    # template of operators/dedup.py _DUP_SPANS_SQL (the c62 oracle, k=5)
    k = p["k"]
    return f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE text IS NOT NULL
        ),
        grams AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 array_to_string(t[i:i+{k - 1}], ' ') AS gram
          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - {k - 1})) AS i)
          WHERE len(t) >= {k}
        ),
        dup AS (
          SELECT gram FROM grams GROUP BY gram
          HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        marks AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        flagged AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {k}
                      THEN 0 ELSE 1 END AS brk
          FROM marks
        ),
        grouped AS (
          SELECT doc_id, pos,
                 SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS UNBOUNDED PRECEDING) AS grp
          FROM flagged
        )
        SELECT doc_id,
               MIN(pos) AS span_start,
               CAST(MAX(pos) + {k - 1} AS BIGINT) AS span_end,
               CAST(MAX(pos) + {k - 1} - MIN(pos) + 1 AS BIGINT) AS n_tokens,
               COUNT(*) AS n_dup_grams
        FROM grouped GROUP BY doc_id, grp
    """


def _simhash_moments_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        simhash_moments,
    )

    return simhash_moments(
        load_table(spark, sf_dir, "documents"),
        max_hamming=p["max_hamming"],
        bits=p["bits"],
        n_bands=p["n_bands"],
    )


def _simhash_moments_oracle(p: dict) -> str:
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        simhash_moments_oracle_sql,
    )

    return simhash_moments_oracle_sql(p["max_hamming"], bits=p["bits"])


def _gen_simhash_moments(rng) -> dict:
    # radius x fingerprint-width x band-count: bits is drawn too (ADVICE
    # r10 — the oracle templates it now, so width can't silently diverge),
    # every band choice divides the drawn width and satisfies the
    # pigeonhole guarantee (n_bands > max_hamming), fuzzing banded recall
    # across band widths 1..bits/2 while the DuckDB twin recomputes the
    # portable fingerprints brute-force at the same width.
    mh = rng.choice([1, 2, 3, 5, 7, 10])
    bits = rng.choice([24, 36, 48, 60])
    bands = rng.choice([d for d in range(mh + 1, bits + 1) if bits % d == 0])
    return {"max_hamming": mh, "bits": bits, "n_bands": bands}


def _minhash_moments_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        minhash_moments,
    )

    return minhash_moments(
        load_table(spark, sf_dir, "documents"), k=p["k"], n_bands=p["n_bands"]
    )


def _minhash_moments_oracle(p: dict) -> str:
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        minhash_moments_oracle_sql,
    )

    return minhash_moments_oracle_sql(p["k"], p["n_bands"])


def _gen_minhash_moments(rng) -> dict:
    # k x band-count over the valid divisor grid: band widths (rows per
    # band) from 1 to k/2, so the draws cover both selective multi-row
    # bands and permissive near-single-row bands.
    k = rng.choice([8, 16, 24])
    bands = rng.choice([b for b in (2, 3, 4, 6, 8, 12) if k % b == 0])
    return {"k": k, "n_bands": bands}


def _q11_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.relational import (
        q11_value_share,
    )

    return q11_value_share(
        load_table(spark, sf_dir, "lineitem"), mult=p["mult"]
    )


def _q11_oracle(p: dict) -> str:
    from data_engineering_zoomcamp_my_test_spark.operators.relational import (
        q11_value_share_oracle_sql,
    )

    return q11_value_share_oracle_sql(p["mult"])


def _gen_q11(rng) -> dict:
    # multipliers straddle the selectivity cliff (everything kept ->
    # nothing kept) so the double-threshold boundary arithmetic is probed
    # where row membership actually flips
    return {"mult": rng.choice([0.5, 0.9, 1.0, 1.1, 1.2, 1.5, 1.8, 2.0, 3.0])}


def _pagerank_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.analytics import (
        pagerank_copurchase,
    )

    return pagerank_copurchase(
        spark, sf_dir, n_iter=p["n_iter"], damping=p["damping"]
    )


def _pagerank_oracle(p: dict) -> str:
    from data_engineering_zoomcamp_my_test_spark.operators.analytics import (
        _pagerank_oracle_sql,
    )

    return _pagerank_oracle_sql(n_iter=p["n_iter"], damping=p["damping"])


def _gen_pagerank(rng) -> dict:
    # iteration count spans the 1-iteration degenerate case (teleport +
    # one hop) through past-convergence depths; damping covers the
    # teleport-dominant and link-dominant regimes. The oracle unrolls the
    # SAME iteration count, so every draw is exact.
    return {
        "n_iter": rng.choice([1, 2, 4, 8, 12]),
        "damping": rng.choice([0.5, 0.7, 0.85, 0.95]),
    }


def _bm25_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(
        spark, docs, query_terms=tuple(p["terms"]), k1=p["k1"], b=p["b"]
    )


def _bm25_oracle(p: dict) -> str:
    from data_engineering_zoomcamp_my_test_spark.operators.text import (
        _bm25_oracle_sql,
    )

    return _bm25_oracle_sql(
        query_terms=tuple(p["terms"]), k1=p["k1"], b=p["b"]
    )


def _gen_bm25(rng) -> dict:
    # b=0 kills length normalization entirely, b=1 makes it fully
    # proportional; the absent-term draw must yield an empty result on
    # both engines (no (doc, term) rows survive the semi-join).
    terms = rng.choice(
        [
            ("merge", "window"),
            ("vector", "merge", "window", "stream"),
            ("scan", "key", "join"),
            ("the",),
            ("zzz_absent_term",),
            ("vector", "zzz_absent_term"),
        ]
    )
    return {
        "terms": list(terms),
        "k1": rng.choice([0.5, 1.2, 2.0]),
        "b": rng.choice([0.0, 0.5, 0.75, 1.0]),
    }


def _triangles_spark(spark: SparkSession, sf_dir: str, p: dict) -> DataFrame:
    from data_engineering_zoomcamp_my_test_spark.operators.analytics import (
        triangle_counts,
        triangle_counts_oriented,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    node = (
        (F.col("l_partkey") % p["mod"]) if p["mod"] else F.col("l_partkey")
    )
    keyed = li.select("l_orderkey", node.alias("node"))
    edges = (
        keyed.alias("x")
        .join(keyed.alias("y"), "l_orderkey")
        .where(F.col("x.node") < F.col("y.node"))
        .select(F.col("x.node").alias("src"), F.col("y.node").alias("dst"))
        .distinct()
        .where(
            F.substring(
                F.md5(F.concat_ws("_", F.col("src"), F.col("dst"))), 1, 8
            )
            < p["keep_hex"]
        )
    )
    impl = (
        triangle_counts_oriented if p["impl"] == "oriented" else triangle_counts
    )
    return impl(edges)


def _triangles_oracle(p: dict) -> str:
    # template of operators/analytics.py ORACLE["c92_triangle_count"] with
    # the graph-shape knobs substituted; the oracle always enumerates in
    # id order — both Spark plans (id-ordered and degree-ordered) are
    # refereed against the SAME enumeration.
    expr_x = f"(x.l_partkey % {p['mod']})" if p["mod"] else "x.l_partkey"
    expr_y = f"(y.l_partkey % {p['mod']})" if p["mod"] else "y.l_partkey"
    return f"""
        WITH p AS MATERIALIZED (
          SELECT DISTINCT {expr_x} AS src, {expr_y} AS dst
          FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
          WHERE {expr_x} < {expr_y}
        ),
        s AS MATERIALIZED (
          SELECT src, dst FROM p
          WHERE substr(md5(CAST(src AS VARCHAR) || '_' ||
                           CAST(dst AS VARCHAR)), 1, 8) < '{p["keep_hex"]}'
        ),
        tri AS (
          SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
          FROM s e1
          JOIN s e2 ON e2.src = e1.dst
          JOIN s e3 ON e3.src = e1.src AND e3.dst = e2.dst
        )
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (SELECT unnest([a, b, c]) AS node FROM tri) t GROUP BY node
    """


def _gen_triangles(rng) -> dict:
    # mod collapses part ids into a smaller node universe: mod=50 makes a
    # dense near-clique (every wedge closes), mod~1000 makes a skewed
    # power-law-ish collapse, mod=0 keeps the natural sparse co-purchase
    # graph. keep_hex sparsifies edges with the c93 md5 coin ('ffffffff'
    # ~= keep all). impl randomizes the PHYSICAL plan — the id-ordered
    # 3-way self-join vs the degree-ordered orientation — so both exact
    # plans are refereed against the single id-ordered oracle.
    return {
        "mod": rng.choice([0, 50, 211, 997]),
        "keep_hex": rng.choice(["40000000", "80000000", "c0000000", "ffffffff"]),
        "impl": rng.choice(["id", "oriented"]),
    }


OPERATORS: dict[str, dict] = {
    "pagerank": {
        "gen": _gen_pagerank,
        "spark": _pagerank_spark,
        "oracle": _pagerank_oracle,
    },
    "triangles": {
        "gen": _gen_triangles,
        "spark": _triangles_spark,
        "oracle": _triangles_oracle,
    },
    "bm25": {
        "gen": _gen_bm25,
        "spark": _bm25_spark,
        "oracle": _bm25_oracle,
    },
    "q11_value_share": {
        "gen": _gen_q11,
        "spark": _q11_spark,
        "oracle": _q11_oracle,
    },
    "simhash_moments": {
        "gen": _gen_simhash_moments,
        "spark": _simhash_moments_spark,
        "oracle": _simhash_moments_oracle,
    },
    "minhash_moments": {
        "gen": _gen_minhash_moments,
        "spark": _minhash_moments_spark,
        "oracle": _minhash_moments_oracle,
    },
    "histogram": {
        "gen": lambda rng: {
            # non-round widths stress the floor-of-division boundary
            "width": rng.choice([1, 3, 7, 25, 50, 33.5, 100, 250]),
        },
        "spark": _histogram_spark,
        "oracle": _histogram_oracle,
    },
    "percentiles": {
        "gen": lambda rng: {
            "lo": rng.choice([0.0, 0.01, 0.1, 0.25, 0.5]),
            "hi": rng.choice([0.5, 0.75, 0.9, 0.99, 1.0]),
        },
        "spark": _percentiles_spark,
        "oracle": _percentiles_oracle,
    },
    "asof_last_event": {
        "gen": lambda rng: {
            # the corpus's event_type domain + one absent type (every
            # marker NULL — the all-NULL IGNORE NULLS edge)
            "match_type": rng.choice(
                ["click", "error", "purchase", "signup", "view", "absent_type"]
            ),
        },
        "spark": _asof_spark,
        "oracle": _asof_oracle,
    },
    "token_budget_mix": {
        "gen": lambda rng: {
            "budget_tokens": rng.choice([1, 50, 200, 500, 2000, 10_000, 10_000_000]),
        },
        "spark": _budget_mix_spark,
        "oracle": _budget_mix_oracle,
    },
    "pack_sequences": {
        "gen": lambda rng: {
            "seq_len": rng.choice([1, 16, 64, 128, 512, 4096]),
        },
        "spark": _pack_spark,
        "oracle": _pack_oracle,
    },
    "stratified_sample": {
        "gen": lambda rng: {
            "fraction": rng.choice([0.01, 0.1, 0.25, 0.33, 0.5, 0.9, 1.0]),
        },
        "spark": _strat_sample_spark,
        "oracle": _strat_sample_oracle,
    },
    "chunk_windows": {
        "gen": _gen_chunk,
        "spark": _chunk_spark,
        "oracle": _chunk_oracle,
    },
    "attribution": {
        "gen": lambda rng: {
            "lookback_minutes": rng.choice([1, 5, 15, 30, 60, 240, 1440]),
        },
        "spark": _attribution_spark,
        "oracle": _attribution_oracle,
    },
    "rolling": {
        "gen": lambda rng: {
            "width_s": rng.choice([60, 300, 900, 3600, 21600, 86400]),
        },
        "spark": _rolling_spark,
        "oracle": _rolling_oracle,
    },
    "sessionize": {
        "gen": lambda rng: {
            "gap_minutes": rng.choice([1, 2, 3, 5, 10, 15, 30, 45, 90, 240, 480]),
        },
        "spark": _sessionize_spark,
        "oracle": _sessionize_oracle,
    },
    "winsorize": {
        "gen": lambda rng: {
            "lo": rng.choice([0.0, 0.01, 0.05, 0.1, 0.2, 0.25]),
            "hi": rng.choice([0.75, 0.8, 0.9, 0.95, 0.99, 1.0]),
        },
        "spark": _winsorize_spark,
        "oracle": _winsorize_oracle,
    },
    "tumbling": {
        "gen": lambda rng: {
            # deliberately includes non-divisors of the hour (7, 11, 90):
            # both sides align to the 1970 epoch, not to hour boundaries
            "width_minutes": rng.choice([1, 2, 5, 7, 10, 11, 15, 30, 60, 90, 120, 240]),
        },
        "spark": _tumbling_spark,
        "oracle": _tumbling_oracle,
    },
    "topk": {
        "gen": lambda rng: {
            "k": rng.choice([1, 2, 3, 5, 10, 25]),
            "n_salt": rng.choice([None, None, 4, 16]),  # both physical arms
        },
        "spark": _topk_spark,
        "oracle": _topk_oracle,
    },
    "mad_anomaly": {
        "gen": lambda rng: {
            "threshold": rng.choice([0.5, 1.0, 2.0, 3.5, 5.0, 10.0]),
        },
        "spark": _mad_spark,
        "oracle": _mad_oracle,
    },
    "resample_ffill": {
        "gen": lambda rng: {
            # floor at 15 min: the grid is keys x (span/bucket) rows, and
            # the point is parameter semantics, not grid-size stress
            "bucket_s": rng.choice([900, 1800, 3600, 7200, 21600, 86400]),
        },
        "spark": _resample_spark,
        "oracle": _resample_oracle,
    },
    "shard_assign": {
        # n_shards=1 collapses to one global sequence; primes force
        # uneven residue classes of the Knuth hash
        "gen": lambda rng: {"n_shards": rng.choice([1, 2, 7, 16, 64, 101, 256])},
        "spark": _shard_spark,
        "oracle": _shard_oracle,
    },
    "negative_sampling": {
        # k*q_cap rows; the hash-chain draw and the self-draw bump must
        # agree for every (k, query-set) combination
        "gen": lambda rng: {
            "k": rng.choice([1, 2, 4, 8, 16]),
            "q_cap": rng.choice([10, 100, 500]),
        },
        "spark": _negsamp_spark,
        "oracle": _negsamp_oracle,
    },
    "dup_spans": {
        # k=2 floods with common bigrams (max marks); k=12 finds almost
        # nothing — both extremes of the island-merge window
        "gen": lambda rng: {"k": rng.choice([2, 3, 5, 8, 12])},
        "spark": _dup_spans_spark,
        "oracle": _dup_spans_oracle,
    },
    "mixture_weights": {
        # alpha=0 gives uniform weights (pow(n,0)=1); alpha=1 collapses
        # oversample to exactly 1.0; budgets below 10^6 make the rounded
        # target_docs land on .5 ties (the ROUND-portability boundary)
        "gen": lambda rng: {
            "alpha": rng.choice([0.0, 0.3, 0.5, 0.7, 0.9, 1.0]),
            "doc_budget": rng.choice([1, 100, 1000, 100_000, 10_000_000]),
        },
        "spark": _mixture_spark,
        "oracle": _mixture_oracle,
    },
    "oov_rate": {
        # the synthetic corpus draws from a ~31-word pool: 1 leaves nearly
        # everything OOV, 100 swallows the whole pool (zero-OOV edge)
        "gen": lambda rng: {"vocab_size": rng.choice([1, 5, 10, 20, 31, 100])},
        "spark": _oov_spark,
        "oracle": _oov_oracle,
    },
    "length_drift_psi": {
        # n_buckets=1 collapses everything to bucket 0 (psi ~ 0);
        # width=1 spreads across the cap so the tail bucket saturates
        "gen": lambda rng: {
            "n_buckets": rng.choice([1, 2, 5, 10, 20]),
            "bucket_width": rng.choice([1, 5, 20, 50, 200]),
        },
        "spark": _psi_spark,
        "oracle": _psi_oracle,
    },
    "feature_hashing": {
        # dim=1 folds every token into slot 0 (pure sign-sum); primes and
        # non-powers-of-2 exercise both residue classes and the sign bit
        "gen": lambda rng: {"dim": rng.choice([1, 2, 3, 16, 64, 257])},
        "spark": _feat_hash_spark,
        "oracle": _feat_hash_oracle,
    },
    "bigram_stats": {
        # top_heads=1 is the argmax-of-argmax edge; 1000 exceeds the head
        # space so the LIMIT goes non-binding
        "gen": lambda rng: {"top_heads": rng.choice([1, 5, 50, 200, 1000])},
        "spark": _bigram_spark,
        "oracle": _bigram_oracle,
    },
}


def gen_case(seed, i: int, ops: list[str] | None = None):
    rng = random.Random(f"{seed}:{i}")
    name = rng.choice(sorted(ops or OPERATORS))
    entry = OPERATORS[name]
    params = entry["gen"](rng)
    return name, params, entry


def run_campaign(
    spark: SparkSession,
    sf_dir: str,
    n: int,
    seed,
    ops: list[str] | None = None,
    max_failures: int = 10,
    row_cap: int = 200_000,
) -> dict:
    from tests.oracle import compare, compare_digest

    ok = 0
    digested = 0
    failures: list[dict] = []
    errors: list[dict] = []
    per_op: dict[str, int] = {}
    for i in range(n):
        name, params, entry = gen_case(seed, i, ops)
        label = f"{name}:{json.dumps(params, sort_keys=True)}"
        try:
            # Persist before the path-choosing count so the compare's own
            # execution reuses the cached result instead of re-running the
            # whole plan (halves campaign cost at sf1+; MEMORY_AND_DISK so
            # big results spill rather than evict mid-compare).
            df = entry["spark"](spark, sf_dir, params).persist(StorageLevel.MEMORY_AND_DISK)
            sql = entry["oracle"](params)
            try:
                if df.count() > row_cap:
                    res = compare_digest(f"pfuzz_{i}", df, sql, sf_dir)
                    digested += 1
                else:
                    res = compare(f"pfuzz_{i}", df, sql, sf_dir)
            finally:
                df.unpersist()
        except Exception as exc:
            errors.append({"i": i, "case": label, "err": f"{type(exc).__name__}: {exc}"})
            if len(errors) + len(failures) >= max_failures:
                break
            continue
        if res.ok:
            ok += 1
            per_op[name] = per_op.get(name, 0) + 1
        else:
            failures.append({"i": i, "case": label, "mismatches": res.mismatches})
            if len(errors) + len(failures) >= max_failures:
                break
    return {
        "metric": "fuzz_params",
        "sf_dir": sf_dir,
        "n": n,
        "seed": str(seed),
        "ok": ok,
        "digest": digested,
        "per_op": per_op,
        "fail": len(failures),
        "err": len(errors),
        "failures": failures,
        "errors": errors,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--n", type=int, default=60)
    ap.add_argument("--seed", default="0")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    ap.add_argument("--ops", default=None, help="comma list from: " + ",".join(OPERATORS))
    ap.add_argument("--emit", type=int, default=None, help="print case i and exit")
    ap.add_argument("--row-cap", type=int, default=200_000)
    args = ap.parse_args()

    ops = None
    if args.ops:
        ops = args.ops.split(",")
        unknown = sorted(set(ops) - set(OPERATORS))
        if unknown:
            sys.exit(f"fuzz_params: unknown --ops {unknown}; known: {sorted(OPERATORS)}")

    if args.emit is not None:
        name, params, _ = gen_case(args.seed, args.emit, ops)
        print(f"{name} {json.dumps(params)}")
        return 0

    from data_engineering_zoomcamp_my_test_spark.session import EngineConfig, get_spark

    spark = get_spark(EngineConfig(app_name="fuzz-params"))
    out = run_campaign(
        spark, args.sf_dir, args.n, args.seed, ops, row_cap=args.row_cap
    )
    print(json.dumps(out))
    return 1 if (out["fail"] or out["err"]) else 0


if __name__ == "__main__":
    sys.exit(main())
