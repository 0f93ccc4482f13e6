"""Text-analysis operators over ``documents`` (SURVEY.md §2.3 C5 +
LLM-pipeline extensions: language-ID, quality scoring, token counting,
document fingerprinting).

Everything here is JVM-side expression work (split / regexp / higher-order
array functions / arithmetic) — zero Python UDFs, so the operators run inside
whole-stage codegen and scale with the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    ENGLISH_STOPWORDS,
    TOKEN_REGEX,
    english_stopword_hits,
    normalized_text,
    token_count,
)
from ..lineage import cut as lineage_cut
from ..sources.tables import load_table


def _bigrams(toks: F.Column) -> F.Column:
    """Consecutive pairs of the token array ``toks`` as structs (w1, w2):
    ``arrays_zip`` over two shifted slices, NOT ``transform(sequence, i ->
    ...)``. The per-index lambda is an interpreted higher-order expression
    (~19x slower measured at sf1 — 14.2s -> 0.8s for 2.7M bigrams); the
    zip of slices is a single array op per row."""
    n = F.size(toks)
    return F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )


# Polynomial rolling-hash fingerprint over the normalized text characters:
# acc = (acc * 31 + ascii(char)) mod 1_000_000_007. Same arithmetic is
# expressible in oracle SQL, so the fingerprints are verifiable.
_FP_MOD = 1_000_000_007


def fingerprint(col) -> F.Column:
    c = col if isinstance(col, str) else None
    expr = (
        f"aggregate(split({c}, ''), 0L, "
        f"(acc, ch) -> (acc * 31 + ascii(ch)) % {_FP_MOD})"
    )
    return F.expr(expr)


def c5_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            (
                F.sum(token_count("text")).cast("double") / F.count(F.lit(1))
            ).alias("avg_tokens"),
        )
        .orderBy("lang", "source")
    )


def c14_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").cast("int").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0))
        .cast("int")
        .alias("n_re_tokens"),
    )


def c15_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English function-word hit ratio. Outputs the
    signal and the binary decision; the real label column lets recall be
    audited downstream."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = token_count("text").cast("double")
    hits = english_stopword_hits("text").cast("double")
    ratio = hits / ntok
    return docs.select(
        "doc_id",
        "lang",
        (hits.cast("int")).alias("stopword_hits"),
        ratio.alias("stopword_ratio"),
        F.when(ratio >= 0.1, "en").otherwise("other").alias("pred_lang"),
    )


def c16_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ntok = token_count("text").cast("double")
    hits = english_stopword_hits("text").cast("double")
    nchars = F.col("n_chars").cast("double")
    stop_ratio = hits / ntok
    avg_word_len = nchars / ntok
    score = stop_ratio * F.lit(0.5) + (
        F.lit(1.0) / (F.lit(1.0) + F.abs(avg_word_len - F.lit(5.0)))
    ) * F.lit(0.5)
    return docs.select(
        "doc_id",
        token_count("text").cast("int").alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        avg_word_len.alias("avg_word_len"),
        score.alias("quality_score"),
    )


def c30_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary extraction: token -> doc frequency + total count,
    top 50. Explode + partial-aggregated groupBy — the canonical
    one-shuffle term-statistics job."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("n_total").desc(), F.col("tok"))
        .limit(50)
    )


def c31_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing: mask digit runs, collapse repeated whitespace —
    the shape of regex-based redaction at corpus scale (pure JVM regex)."""
    docs = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), "[0-9]+", "<NUM>"), " +", " "
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        (F.length("text") - F.length(scrubbed)).cast("int").alias("chars_removed"),
    )


def c37_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: term frequency per (doc, token) x inverse document frequency,
    top-scoring term per document. Fully JVM-side, no window sort: the
    per-doc argmax is a ``min_by`` over (-tfidf, tok) — partial-aggregating
    (map-side combine), so the final shuffle carries one row per doc
    instead of sorting every (doc, token) pair (19.2s -> 14.7s at sf10).

    The term-df map joins WITHOUT a forced broadcast: vocabulary grows
    with the corpus (a web-scale crawl has 1e8+ distinct tokens), and a
    forced hint cannot be demoted — AQE broadcasts it from the observed
    runtime size while it fits, exactly like the engine's dim-table rule
    (sources/tables.py BROADCAST_DIMS)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.select(F.countDistinct("doc_id").alias("n")).alias("nd")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # df over toks, NOT over tf — measured, not assumed (r7 A/B at sf1,
    # 4 runs): deriving df as tf.groupBy(tok).count() looks like it saves
    # an explode, but Spark does not reuse the (doc_id, tok) exchange
    # across the join's two subtrees, so that form pays an extra
    # corpus-sized pair shuffle keyed tok and ran 1.5x SLOWER at sf1
    # (4.4s vs 2.9s; equal within noise at sf0.1). This form's second
    # explode partial-aggregates map-side before its single tok-keyed
    # shuffle — the explode is cheap CPU, the avoided shuffle is not.
    df_ = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    # min over (-tfidf, tok): highest score, lexicographically-smallest
    # token on ties — the same total order the window formulation used.
    best = scored.groupBy("doc_id").agg(
        F.min_by(
            F.struct("tok", "tfidf"),
            F.struct((-F.col("tfidf")).alias("_a"), F.col("tok").alias("_b")),
        ).alias("_best")
    )
    return best.select(
        "doc_id",
        F.col("_best.tok").alias("tok"),
        F.col("_best.tfidf").alias("tfidf"),
    )


# BM25 ranking constants — the Robertson/Lucene defaults. The query-term
# set is a fixed catalog constant so the decl is deterministic; terms
# absent from a given corpus simply contribute no (doc, term) rows.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY_TERMS = ("vector", "merge", "window", "stream")


def bm25_scores(
    spark: SparkSession,
    docs: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """BM25 relevance of every document against a fixed query-term set —
    the retrieval scorer a training-data pipeline runs for quality-biased
    sampling ("docs most like the eval set"). Lucene's positive-idf
    variant: idf = ln(1 + (N - df + 0.5)/(df + 0.5)).

    Scale posture: token explode is corpus-sized but immediately
    semi-joined to the BROADCAST query-term list, so the (doc, term)
    relation that shuffles is |docs| x |query| at most, never the full
    token stream; df and the corpus stats (N, avgdl) attach as broadcast
    one-row / term-count frames. All expression work is JVM-side
    (whole-stage codegen), no UDFs.

    query_terms is normalized to an order-preserving de-duplicated set
    (matching SQL IN semantics — a duplicated term must not double-count
    its tf contribution) and must be non-empty."""
    query_terms = tuple(dict.fromkeys(query_terms))
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    q = spark.createDataFrame([(t,) for t in query_terms], "tok string")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    # ``tf`` feeds BOTH the df aggregate and the contribution join;
    # Catalyst inlines each reference, so without a lineage cut the
    # corpus-sized explode + semi-join runs twice. The materialized
    # relation is |docs| x |query_terms| rows at most — tiny.
    tf = (
        toks.join(F.broadcast(q), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(lineage_cut)
    )
    # df per query term: tf is one row per (doc, term), so count(*) = df
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("double").alias("dl")
    )
    # corpus stats derive from ``dl`` (same values by construction:
    # avg(dl) over all docs), sparing a third scan + tokenization pass
    # of the corpus.
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    one_minus_b = 1.0 - b
    contrib = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs").cast("double") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(one_minus_b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("contrib"),
        )
    )
    return contrib.groupBy("doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("bm25")
    )


def c91_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_scores(spark, load_table(spark, sf_dir, "documents"))


def _bm25_oracle_sql(
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB oracle for c91. Float literals (k1+1, 1-b, ...) are generated
    from the SAME Python floats the Spark side passes as lit()s
    (repr-roundtrip), so both engines evaluate bit-identical constants;
    the ≤|query|-term sum per doc differs only in association order,
    absorbed by ROUND 6 — the catalog's float-parity convention.

    Same degenerate-input contract as bm25_scores: duplicates are deduped
    (SQL IN would anyway) and an empty term set raises rather than
    emitting the syntactically-invalid ``IN ()``."""
    query_terms = tuple(dict.fromkeys(query_terms))
    if not query_terms:
        raise ValueError("_bm25_oracle_sql: query_terms must be non-empty")
    terms = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        tf AS (
          SELECT doc_id, tok, COUNT(*) AS tf FROM toks
          WHERE tok IN ({terms}) GROUP BY 1, 2
        ),
        df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        dl AS (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
          FROM documents
        ),
        stats AS (
          SELECT COUNT(*) AS n_docs,
                 AVG(len(string_split(text, ' '))) AS avgdl
          FROM documents
        )
        SELECT tf.doc_id,
               ROUND(SUM(
                 ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - df.df + 0.5)
                          / (df.df + 0.5))
                 * (tf.tf * {k1 + 1.0!r})
                 / (tf.tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl.dl / stats.avgdl))
               ), 6) AS bm25
        FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY tf.doc_id
    """


def c20_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.withColumn("norm_text", normalized_text("text")).select(
        "doc_id", fingerprint("norm_text").alias("fp")
    )


def _hash_order_cumsum(group_col: str):
    """(ntok, cum_tokens) over the deterministic content-hash admission
    order — md5(text) with doc_id tiebreak, cumulative per group. This
    ordering is a parity contract shared by ``token_budget_mix`` and
    ``pack_sequences`` and must match their DuckDB oracles exactly."""
    from pyspark.sql.window import Window

    ntok = F.size(F.split("text", " "))
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.md5("text"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ntok, F.sum(ntok.cast("long")).over(w)


def token_budget_mix(
    docs: DataFrame, budget_tokens: int, group_col: str = "source"
) -> DataFrame:
    """Corpus mixing: cap every group (source/domain) at a token budget —
    the data-blending step that turns raw corpora into a training mix with
    controlled per-domain proportions. Documents are admitted in
    content-hash order (md5 of text, doc_id tiebreak): deterministic on any
    cluster layout, unbiased w.r.t. document position in the source, and
    reproducible run-to-run — the distributed analogue of 'shuffle then
    take the first N tokens'. One window cumsum per group; no collect."""
    ntok, cum = _hash_order_cumsum(group_col)
    return (
        docs.select(
            "doc_id",
            group_col,
            ntok.alias("n_tok"),
            cum.alias("cum_tokens"),
        )
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select("doc_id", group_col, "n_tok", "cum_tokens")
    )


def c49_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """500 tokens per source — a fixed-budget training blend."""
    docs = load_table(spark, sf_dir, "documents")
    return token_budget_mix(docs, budget_tokens=500)


def pack_sequences(
    docs: DataFrame, seq_len: int, group_col: str = "source"
) -> DataFrame:
    """Pack documents into fixed-token training sequences: each doc gets a
    (sequence id, offset) inside its group, by cumulative token count over
    the deterministic content-hash order — the distributed form of
    'concatenate shuffled docs and cut every ``seq_len`` tokens' that LLM
    pre-training data loaders perform. seq = floor(start/seq_len) where
    start is the cumsum of preceding docs' tokens; docs that straddle a
    boundary belong to the sequence they start in (reader-side continuation
    is an IO concern, not a planning one). One window per group, no
    collect, no Python."""
    ntok, cum = _hash_order_cumsum(group_col)
    start = cum - ntok
    return docs.select(
        "doc_id",
        group_col,
        ntok.alias("n_tok"),
        F.floor(start / seq_len).cast("long").alias("seq_id"),
        (start % seq_len).cast("long").alias("seq_offset"),
    )


def c50_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-token sequences per source."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=128)


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style intra-document repetition metrics: distinct-token ratio,
    most-frequent-word fraction, and duplicated-3-gram fraction (share of
    3-gram instances whose 3-gram occurs more than once in the doc), plus a
    keep/drop decision — the within-document filter that complements the
    cross-document dedup family (C1/C2/C6).

    Scale: work is O(total tokens) — no per-document quadratic (the naive
    ``transform(distinct, w -> count-in-array)`` is O(len^2) per doc, which
    a 10k-token web page turns into 10^8 comparisons). ONE scan, ONE
    shuffle, ZERO joins: tokens and 3-grams are tagged into a single
    exploded (kind, item) stream after an upfront repartition by doc_id, so
    HashPartitioning(doc_id) satisfies both downstream groupings
    (``(doc_id, kind, item)`` clusters by a superset of the partition key)
    and the 3-4x-corpus-bytes exploded stream never crosses the network;
    the per-doc rollup separates the two kinds with conditional aggregates.
    Arrays are built JVM-side with ``transform(sequence(...))`` — no
    Python."""
    kind = F.col("ki.kind")
    c = F.col("c")
    counts = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .repartition("doc_id")
        .select(
            "doc_id",
            F.expr(
                "explode(concat("
                " transform(w, t -> named_struct('kind', 't', 'item', t)),"
                " case when size(w) >= 3 then"
                "  transform(sequence(0, size(w)-3), i -> named_struct("
                "   'kind', 'g', 'item',"
                "   concat(w[i], ' ', w[i+1], ' ', w[i+2])))"
                " else array() end))"
            ).alias("ki"),
        )
        .groupBy("doc_id", kind.alias("kind"), F.col("ki.item").alias("item"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = counts.groupBy("doc_id").agg(
        F.sum(F.when(F.col("kind") == "t", c)).alias("n_tokens"),
        F.count(F.when(F.col("kind") == "t", F.lit(1))).alias("n_distinct"),
        F.max(F.when(F.col("kind") == "t", c)).alias("top_cnt"),
        F.sum(F.when(F.col("kind") == "g", c)).alias("n_grams"),
        F.sum(F.when((F.col("kind") == "g") & (c > 1), c)).alias("dup"),
    )
    n_tok_d = F.col("n_tokens").cast("double")
    distinct_ratio = F.col("n_distinct").cast("double") / n_tok_d
    top_frac = F.col("top_cnt").cast("double") / n_tok_d
    dup_frac = F.coalesce(
        F.col("dup").cast("double") / F.col("n_grams").cast("double"), F.lit(0.0)
    )
    return stats.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        top_frac.alias("top_word_frac"),
        dup_frac.alias("dup_3gram_frac"),
        ((distinct_ratio >= 0.2) & (top_frac <= 0.3)).alias("keep"),
    )


def c58_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats(load_table(spark, sf_dir, "documents"))


def shard_assign(
    docs: DataFrame, n_shards: int = 64, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Deterministic global shuffle + shard layout for training export:
    every document gets a (shard_id, shard_pos) via a portable Knuth
    multiplicative hash of its id — the same layout on any cluster, any
    partitioning, any run, so an export can be resumed/verified shard by
    shard. The row_number window per shard IS the export shuffle (one
    shuffle keyed by shard_id); downstream
    ``write.partitionBy("shard_id")`` turns it into training shards whose
    order is reproducible without a global sort."""
    from pyspark.sql.window import Window

    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    w = Window.partitionBy("shard_id").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", *keep_cols, h.alias("h"))
        .withColumn("shard_id", (F.col("h") % n_shards).cast("int"))
        .withColumn("shard_pos", (F.row_number().over(w) - 1).cast("long"))
        .select("doc_id", *keep_cols, "shard_id", "shard_pos")
    )


def c59_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-shard deterministic export layout."""
    return shard_assign(load_table(spark, sf_dir, "documents"), n_shards=64)


def mixture_weights(
    docs: DataFrame, alpha: float = 0.7, doc_budget: int = 100_000
) -> DataFrame:
    """Temperature-scaled source mixing weights: per source, weight
    proportional to n_tokens^alpha (alpha<1 upsamples small sources — the
    standard multilingual/multi-domain pre-training recipe), the
    oversampling factor vs natural proportion, and a document target for a
    fixed budget. Pure aggregate + one global window over the handful of
    source rows; the heavy work is the one groupBy over the corpus.
    Weights round to 6 decimals so the arithmetic is engine-portable."""
    from pyspark.sql.window import Window

    ntok = F.size(F.split("text", " ")).cast("long")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    wraw = F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
    wsum = F.sum(wraw).over(w_all)
    toksum = F.sum(F.col("n_tokens").cast("double")).over(w_all)
    mix = F.round(wraw / wsum, 6)
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        mix.alias("mix_weight"),
        F.round((wraw / wsum) / (F.col("n_tokens") / toksum), 6).alias(
            "oversample"
        ),
        F.round(mix * doc_budget, 0).cast("long").alias("target_docs"),
    )


def c60_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture_weights(load_table(spark, sf_dir, "documents"))


def bigram_stats(docs: DataFrame, top_heads: int = 50) -> DataFrame:
    """Corpus bigram continuation statistics: for the ``top_heads`` most
    frequent head words, the number of distinct continuations, total
    continuation count, and the most likely next word with its conditional
    probability P(w2 | w1) — the language-model-flavored corpus profile
    (continuation entropy drives tokenizer/vocab decisions and is the
    standard smell test for template-generated text, which shows abnormally
    peaked continuation distributions).

    Plan: one explode of consecutive-pair structs (``_bigrams``, docs
    shorter than 2 tokens filtered first), one (w1, w2) groupBy, then a
    partial-aggregating ``min_by`` argmax per head — the same window-free
    top-1 pattern as c37. No Python, no window sort over the bigram
    stream."""
    toks = F.split("text", " ")
    bg = (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(_bigrams(toks)).alias("b"))
        .select("b.w1", "b.w2")
    )
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    agg = cnt.groupBy("w1").agg(
        F.count(F.lit(1)).alias("n_cont"),
        F.sum("c").alias("n_total"),
        F.min_by(
            F.struct("w2", "c"),
            F.struct((-F.col("c")).alias("_a"), F.col("w2").alias("_b")),
        ).alias("_best"),
    )
    return (
        agg.select(
            "w1",
            F.col("n_cont").cast("long").alias("n_cont"),
            F.col("n_total").cast("long").alias("n_total"),
            F.col("_best.w2").alias("top_w2"),
            F.round(
                F.col("_best.c").cast("double") / F.col("n_total"), 6
            ).alias("top_prob"),
        )
        .orderBy(F.col("n_total").desc(), "w1")
        .limit(top_heads)
    )


def c65_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_stats(load_table(spark, sf_dir, "documents"))


def oov_rate(docs: DataFrame, vocab_size: int = 1000) -> DataFrame:
    """Tokenizer-coverage profile: fit a top-``vocab_size`` vocabulary on
    the corpus itself (count desc, token asc — deterministic), then score
    every document's out-of-vocabulary token fraction. This is the
    fit-then-apply loop of tokenizer construction: the OOV tail tells you
    whether the vocabulary budget fits the corpus before you train with it.

    Plan: the vocabulary is one partial-aggregated groupBy + a bounded
    top-k (TakeOrderedAndProject — never a full sort of the term space);
    scoring is one explode joined against the (tiny, broadcast) vocab and
    one per-doc aggregate. Corpus-sized shuffles: the (tok) count and the
    (doc_id) rollup — both keyed, nothing quadratic, no Python."""
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(vocab_size)
        .select("tok", F.lit(1).alias("_in_vocab"))
    )
    scored = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_oov").cast("long").alias("n_oov"),
            F.round(
                F.col("n_oov").cast("double") / F.col("n_tokens"), 6
            ).alias("oov_rate"),
        )
    )


def length_drift_psi(
    a: DataFrame, b: DataFrame, n_buckets: int = 10, bucket_width: int = 20
) -> DataFrame:
    """Population Stability Index between two corpus slices over the
    token-length distribution — the drift monitor a production data
    pipeline runs on every refresh (PSI > 0.2 is the conventional
    "distribution shifted, investigate" alarm). Exact and engine-portable:
    fixed-width buckets (capped at ``n_buckets``), epsilon-smoothed shares,
    per-bucket contributions rounded at 6 decimals; the scalar PSI is the
    SUM over the returned rows, so the evidence stays inspectable.

    Plan: each slice pays one scan + one bounded groupBy(bucket); the
    share/contribution math runs over <= ``n_buckets`` rows. Nothing is
    corpus-sized after the first aggregate."""
    eps = 1e-6

    def bucketed(df: DataFrame, col: str) -> DataFrame:
        ntok = F.size(F.split("text", " "))
        bucket = F.least(
            F.floor(ntok / bucket_width).cast("int"), F.lit(n_buckets - 1)
        )
        return df.groupBy(bucket.alias("bucket")).agg(
            F.count(F.lit(1)).alias(col)
        )

    from pyspark.sql.window import Window

    w = Window.partitionBy()
    cells = (
        bucketed(a, "n_a")
        .join(bucketed(b, "n_b"), "bucket", "full")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
        .withColumn("p_a", F.col("n_a") / F.sum("n_a").over(w) + F.lit(eps))
        .withColumn("p_b", F.col("n_b") / F.sum("n_b").over(w) + F.lit(eps))
    )
    return cells.select(
        "bucket",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(
            (F.col("p_a") - F.col("p_b")) * F.log(F.col("p_a") / F.col("p_b")),
            6,
        ).alias("psi_contrib"),
    )


def feature_hashing(
    docs: DataFrame, dim: int = 16
) -> DataFrame:
    """Feature generation via the hashing trick (Weinberger et al., ICML'09):
    each token is hashed into one of ``dim`` feature slots with a +/-1 sign
    bit, and a document's feature value is the signed token count — the
    fixed-width featurization stage that turns raw text into model input
    without a fitted vocabulary (collision-tolerant by construction, so it
    needs no coordination at 100 TB: any worker can featurize any shard).

    The hash is the engine-portable polynomial char fingerprint (same
    arithmetic as c20), so the WHOLE featurization is oracle-verifiable —
    slot = fp mod dim, sign from the next fingerprint bit. Output is the
    long-format (doc_id, dim, value) feature matrix: exact, join-ready,
    and trivially pivoted to arrays by a consumer.

    Plan: one token explode, per-token JVM fingerprint arithmetic, one
    partial-aggregated (doc_id, dim) rollup. No Python, no vocabulary
    broadcast, nothing quadratic."""
    fp = F.expr(
        f"aggregate(split(tok, ''), 0L, "
        f"(acc, ch) -> (acc * 31 + ascii(ch)) % {_FP_MOD})"
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    hashed = toks.select(
        "doc_id",
        (fp % dim).cast("int").alias("dim"),
        F.when((fp / dim).cast("long") % 2 == 0, 1).otherwise(-1).alias("sgn"),
    )
    return (
        hashed.groupBy("doc_id", "dim")
        .agg(F.sum("sgn").alias("value"))
        .select("doc_id", "dim", F.col("value").cast("double").alias("value"))
    )


def c71_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-slot hashed feature matrix over the documents corpus."""
    return feature_hashing(load_table(spark, sf_dir, "documents"), dim=16)


def c70_length_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length drift between the src1 and src2 corpus slices."""
    docs = load_table(spark, sf_dir, "documents")
    return length_drift_psi(
        docs.filter(F.col("source") == "src1"),
        docs.filter(F.col("source") == "src2"),
    )


def c68_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV profile against a 20-token corpus-fit vocabulary (the synthetic
    corpus draws from a ~31-word pool, so 20 leaves a real OOV tail for
    the oracle to discriminate on)."""
    return oov_rate(load_table(spark, sf_dir, "documents"), vocab_size=20)


def chunk_windows(
    docs: DataFrame, window: int = 32, stride: int = 24
) -> DataFrame:
    """Fixed-token sliding-window chunking with overlap — the
    document-splitting step every LLM training/RAG pipeline runs before
    tokenization-to-sequences. Every token is covered: chunk ``i`` spans
    tokens ``[i*stride, i*stride+window)`` and the final chunk is allowed
    to run short rather than dropping the tail (``k = 1 +
    ceil(max(n-window,0)/stride)`` chunks for an ``n``-token doc).

    Plan: pure per-row projection — split/sequence/transform/posexplode/
    slice are all JVM higher-order expressions inside one whole-stage
    codegen span; there is NO keyed shuffle, so the operator scales with
    corpus bytes and parallelizes by input split. Output fan-out is bounded
    at ~n/stride rows per doc (amortized window/stride ≈ 1.3× token bytes
    here), which is the contract, not a blow-up. The chunk expansion is
    CPU-bound per row, so a corpus arriving in fewer files than cores is
    round-robin spread first (``_spread_for_cpu`` — a no-op whenever the
    scan already has enough splits, i.e. always at 100 TB; measured at
    sf10's 2-file layout: 125s -> ~8s).

    ``1 <= stride <= window`` is VALIDATED, not assumed: a stride past the
    window both skips tokens (breaking the every-token-covered contract)
    and can emit a zero-token tail chunk whose representation is
    engine-dependent (Spark ``array_join(empty)`` = '', DuckDB
    slice-past-end = NULL — found by tools/fuzz_params.py probing outside
    the contract); inside the contract the final chunk is provably
    nonempty, so neither hazard is reachable."""
    if not (1 <= stride <= window):
        raise ValueError(
            f"chunk_windows requires 1 <= stride <= window for full token "
            f"coverage; got window={window}, stride={stride}"
        )
    from .dedup import _spread_for_cpu

    docs = _spread_for_cpu(docs)
    toks = F.split("text", " ")
    n = F.size(toks)
    k = (
        F.lit(1)
        + F.ceil(F.greatest(n - window, F.lit(0)) / F.lit(float(stride)))
    ).cast("int")
    starts = F.transform(
        F.sequence(F.lit(1), k), lambda i: (i - F.lit(1)) * stride
    )
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.posexplode(starts).alias("chunk_id", "start_tok"),
    )
    chunk = F.slice(F.col("toks"), F.col("start_tok") + 1, F.lit(window))
    return base.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("start_tok").cast("int").alias("start_tok"),
        F.size(chunk).cast("int").alias("n_tok"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean log-probability under a corpus-fit add-1-smoothed
    bigram LM — the exact, engine-portable formulation of the perplexity
    filter LLM curation pipelines (CCNet-style) run to rank documents by
    fluency. ``logp(w1,w2) = ln((c(w1,w2)+1)/(c(w1·)+V))``; a document's
    score is the mean over its bigrams (more-negative = less corpus-like).

    Plan: one keyed groupBy for bigram counts; head counts derive from the
    bigram table (no second corpus pass); vocabulary size is a 1-row
    broadcast; scoring joins doc-bigrams to the count tables on their keys
    and partial-aggregates per doc. Every shuffle is keyed by (w1[,w2]) or
    doc_id — nothing quadratic, no Python, linear in corpus tokens. The
    bigram explode is CPU-bound per row, so the input is spread across
    cores first (same posture as the MinHash signatures, dedup.py
    ``_spread_for_cpu``) — a corpus landing in few parquet files would
    otherwise run the whole chain on few tasks."""
    from .dedup import _spread_for_cpu

    docs = _spread_for_cpu(docs)
    toks = F.split("text", " ")
    # ``bi`` feeds BOTH the count aggregate and the scoring join;
    # Catalyst inlines each reference, so without a lineage cut the
    # corpus tokenization + zip-of-slices explode executes twice.
    bi = (
        docs.filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(_bigrams(toks)).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
        .transform(lineage_cut)
    )
    big = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    head = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # the vocabulary size attaches as a single-row broadcast (same pattern
    # as b26's scalar subquery: a 1-row BroadcastNestedLoopJoin is a
    # constant attach, not a quadratic join; whitelisted in the catalog
    # plan-hygiene guard with that justification)
    vocab = docs.select(F.explode(toks).alias("t")).agg(
        F.countDistinct("t").alias("vsz")
    )
    scored = (
        bi.join(big, ["w1", "w2"])
        .join(head, "w1")
        .crossJoin(F.broadcast(vocab))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(
            F.avg(
                F.log(
                    (F.col("c12") + F.lit(1.0))
                    / (F.col("c1") + F.col("vsz"))
                )
            ),
            6,
        ).alias("avg_logprob"),
    )


def c75_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-fit bigram-LM fluency score per document."""
    return bigram_logprob(load_table(spark, sf_dir, "documents"))


def pmi_collocations(
    docs: DataFrame, min_count: int = 5, k: int = 20
) -> DataFrame:
    """Exact top-``k`` collocations by pointwise mutual information:
    ``pmi(w1,w2) = ln( (c12/B) / ((c1/T)(c2/T)) )`` over corpus bigram/
    unigram counts — the classic collocation-mining statistic (phrase
    discovery for tokenizer vocab construction). A ``min_count`` floor
    drops the unstable low-frequency tail, PMI is rounded at 6 decimals
    BEFORE ranking (so the top-k boundary cannot flip on a cross-engine
    ulp), and ties break lexicographically.

    Plan: the same ``_bigrams`` explode as c75, one keyed groupBy
    each for bigram and unigram counts, the two corpus totals attach as a
    single-row broadcast (constant attach, same whitelist rationale as
    b26/c75), and the final top-k is a TakeOrderedAndProject — never a
    full sort of the bigram space."""
    from .dedup import _spread_for_cpu

    docs = _spread_for_cpu(docs)
    toks = F.split("text", " ")
    bi = (
        docs.filter(F.size(toks) >= 2)
        .select(F.explode(_bigrams(toks)).alias("p"))
        .select("p.w1", "p.w2")
    )
    uni = docs.select(F.explode(toks).alias("t"))
    # The aggregated count tables each feed two+ consumers (the PMI joins
    # and the corpus totals); cut their lineage so the bigram/unigram
    # explodes and grouping shuffles run once — the materialized relations
    # are vocabulary-sized, far smaller than the token streams. The
    # totals then DERIVE from the aggregates (sum of counts == row count
    # of the un-aggregated stream, exact integer identity), sparing two
    # more full corpus passes.
    big = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .transform(lineage_cut)
    )
    unic = (
        uni.groupBy("t").agg(F.count(F.lit(1)).alias("c")).transform(lineage_cut)
    )
    totals = big.agg(F.sum("c12").alias("b_total")).crossJoin(
        unic.agg(F.sum("c").alias("t_total"))
    )
    c1 = unic.select(F.col("t").alias("w1"), F.col("c").alias("c1"))
    c2 = unic.select(F.col("t").alias("w2"), F.col("c").alias("c2"))
    scored = (
        big.filter(F.col("c12") >= min_count)
        .join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.round(
                F.log(
                    (F.col("c12") / F.col("b_total"))
                    / (
                        (F.col("c1") / F.col("t_total"))
                        * (F.col("c2") / F.col("t_total"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(k)


def c79_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations (min bigram count 5) over the documents corpus."""
    return pmi_collocations(load_table(spark, sf_dir, "documents"))


def c74_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-token windows, stride 24 (25% overlap) over the documents corpus."""
    return chunk_windows(load_table(spark, sf_dir, "documents"))


QUERIES = {
    "c5_text_stats": c5_text_stats,
    "c49_token_budget_mix": c49_token_budget_mix,
    "c50_pack_sequences": c50_pack_sequences,
    "c14_token_count": c14_token_count,
    "c15_langid": c15_langid,
    "c16_quality": c16_quality,
    "c20_fingerprint": c20_fingerprint,
    "c30_vocab": c30_vocab,
    "c31_scrub_pii": c31_scrub_pii,
    "c37_tfidf_top_term": c37_tfidf_top_term,
    "c91_bm25": c91_bm25,
    "c58_repetition_stats": c58_repetition_stats,
    "c59_shard_assign": c59_shard_assign,
    "c60_mixture_weights": c60_mixture_weights,
    "c65_bigram_stats": c65_bigram_stats,
    "c68_oov_rate": c68_oov_rate,
    "c70_length_drift_psi": c70_length_drift_psi,
    "c71_feature_hashing": c71_feature_hashing,
    "c74_chunk_windows": c74_chunk_windows,
    "c75_bigram_logprob": c75_bigram_logprob,
    "c79_pmi_collocations": c79_pmi_collocations,
}

_STOPLIST = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)
_NTOK = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
_HITS = f"CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOPLIST}))) AS DOUBLE)"

ORACLE = {
    "c91_bm25": _bm25_oracle_sql(),
    "c79_pmi_collocations": """
        WITH t AS (
          SELECT string_split(text, ' ') AS toks,
                 len(string_split(text, ' ')) AS n
          FROM documents
        ),
        bi AS (
          SELECT toks[i] AS w1, toks[i + 1] AS w2
          FROM t, UNNEST(generate_series(1, n - 1)) AS u(i)
          WHERE n >= 2
        ),
        uni AS (SELECT UNNEST(toks) AS t FROM t),
        big AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
        unic AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY 1),
        totals AS (
          SELECT (SELECT COUNT(*) FROM bi) AS b_total,
                 (SELECT COUNT(*) FROM uni) AS t_total
        )
        SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
               ROUND(ln((c12 / b_total)
                        / ((u1.c / t_total) * (u2.c / t_total))), 6) AS pmi
        FROM big
        JOIN unic u1 ON big.w1 = u1.t
        JOIN unic u2 ON big.w2 = u2.t
        CROSS JOIN totals
        WHERE c12 >= 5
        ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
    "c75_bigram_logprob": """
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 len(string_split(text, ' ')) AS n
          FROM documents
        ),
        bi AS (
          SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
          FROM t, UNNEST(generate_series(1, n - 1)) AS u(i)
          WHERE n >= 2
        ),
        big AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
        head AS (SELECT w1, SUM(c12) AS c1 FROM big GROUP BY 1),
        v AS (
          SELECT COUNT(DISTINCT tok) AS vsz
          FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(ln((c12 + 1.0) / (c1 + vsz))), 6) AS avg_logprob
        FROM bi JOIN big USING (w1, w2) JOIN head USING (w1) CROSS JOIN v
        GROUP BY doc_id
    """,
    "c74_chunk_windows": """
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks,
                 len(string_split(text, ' ')) AS n
          FROM documents
        ),
        k AS (
          SELECT doc_id, toks,
                 1 + CAST(ceil(greatest(n - 32, 0) / 24.0) AS BIGINT) AS k
          FROM t
        )
        SELECT doc_id,
               CAST(i - 1 AS INT) AS chunk_id,
               CAST((i - 1) * 24 AS INT) AS start_tok,
               CAST(len(toks[(i-1)*24 + 1 : (i-1)*24 + 32]) AS INT) AS n_tok,
               array_to_string(
                 toks[(i-1)*24 + 1 : (i-1)*24 + 32], ' '
               ) AS chunk_text
        FROM k, UNNEST(generate_series(1, k)) AS u(i)
    """,
    "c50_pack_sequences": """
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
               CAST(floor(CAST(start AS DOUBLE) / 128) AS BIGINT) AS seq_id,
               CAST(start % 128 AS BIGINT) AS seq_offset
        FROM c
    """,
    "c49_token_budget_mix": """
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
        FROM c WHERE cum_tokens <= 500
    """,
    "c5_text_stats": """
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
               CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens
        FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
    "c14_token_count": f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS INT) AS n_re_tokens
        FROM documents
    """,
    "c15_langid": f"""
        SELECT doc_id, lang,
               CAST({_HITS} AS INT) AS stopword_hits,
               {_HITS} / {_NTOK} AS stopword_ratio,
               CASE WHEN {_HITS} / {_NTOK} >= 0.1 THEN 'en' ELSE 'other' END AS pred_lang
        FROM documents
    """,
    "c16_quality": f"""
        SELECT doc_id,
               CAST({_NTOK} AS INT) AS n_tokens,
               {_HITS} / {_NTOK} AS stopword_ratio,
               CAST(n_chars AS DOUBLE) / {_NTOK} AS avg_word_len,
               ({_HITS} / {_NTOK}) * 0.5
                 + (1.0 / (1.0 + ABS(CAST(n_chars AS DOUBLE) / {_NTOK} - 5.0))) * 0.5
                 AS quality_score
        FROM documents
    """,
    "c37_tfidf_top_term": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.tok,
                 ROUND(tf.tf * ln(CAST(nd.n AS DOUBLE) / df.df), 6) AS tfidf
          FROM tf JOIN df USING (tok) CROSS JOIN nd
        )
        SELECT doc_id, tok, tfidf FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
          FROM scored
        ) t WHERE rn = 1
    """,
    "c30_vocab": """
        SELECT tok, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS doc_freq
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok ORDER BY n_total DESC, tok LIMIT 50
    """,
    "c31_scrub_pii": """
        SELECT doc_id,
               regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
                              ' +', ' ', 'g') AS scrubbed_text,
               CAST(LENGTH(text) - LENGTH(
                 regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'),
                                ' +', ' ', 'g')) AS INT) AS chars_removed
        FROM documents
    """,
    "c58_repetition_stats": """
        WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        tc AS (
          SELECT doc_id, tok, COUNT(*) AS c
          FROM (SELECT doc_id, unnest(w) AS tok FROM ws) GROUP BY 1, 2
        ),
        ts AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct,
                 CAST(MAX(c) AS BIGINT) AS top_cnt
          FROM tc GROUP BY 1
        ),
        gc AS (
          SELECT doc_id, g, COUNT(*) AS c
          FROM (SELECT doc_id,
                       unnest(list_transform(generate_series(1, len(w) - 2),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
                FROM ws)
          GROUP BY 1, 2
        ),
        gs AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
                 CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup
          FROM gc GROUP BY 1
        )
        SELECT ts.doc_id, ts.n_tokens,
               CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
               CAST(top_cnt AS DOUBLE) / n_tokens AS top_word_frac,
               COALESCE(CAST(dup AS DOUBLE) / n_grams, 0.0) AS dup_3gram_frac,
               (CAST(n_distinct AS DOUBLE) / n_tokens >= 0.2
                AND CAST(top_cnt AS DOUBLE) / n_tokens <= 0.3) AS keep
        FROM ts LEFT JOIN gs ON ts.doc_id = gs.doc_id
    """,
    "c59_shard_assign": """
        WITH h AS (
          SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS h FROM documents
        )
        SELECT doc_id, CAST(h % 64 AS INT) AS shard_id,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY h % 64 ORDER BY h, doc_id) - 1 AS BIGINT)
                 AS shard_pos
        FROM h
    """,
    "c60_mixture_weights": """
        WITH per AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        ),
        sc AS (
          SELECT source, n_docs, n_tokens,
                 pow(CAST(n_tokens AS DOUBLE), 0.7) AS wraw,
                 SUM(pow(CAST(n_tokens AS DOUBLE), 0.7)) OVER () AS wsum,
                 SUM(CAST(n_tokens AS DOUBLE)) OVER () AS toksum
          FROM per
        )
        SELECT source, n_docs, n_tokens,
               ROUND(wraw / wsum, 6) AS mix_weight,
               ROUND((wraw / wsum) / (n_tokens / toksum), 6) AS oversample,
               CAST(ROUND(ROUND(wraw / wsum, 6) * 100000, 0) AS BIGINT)
                 AS target_docs
        FROM sc
    """,
    "c20_fingerprint": f"""
        SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                     string_split(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ''),
                     ch -> CAST(ascii(ch) AS BIGINT))),
                 (acc, x) -> (acc * 31 + x) % {_FP_MOD}) AS fp
        FROM documents
    """,
    "c71_feature_hashing": f"""
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
        SELECT doc_id, CAST(fp % 16 AS INT) AS dim,
               CAST(SUM(CASE WHEN (fp // 16) % 2 = 0 THEN 1 ELSE -1 END)
                 AS DOUBLE) AS value
        FROM hashed GROUP BY 1, 2
    """,
    "c70_length_drift_psi": """
        WITH a AS (
          SELECT LEAST(CAST(FLOOR(len(string_split(text, ' ')) / 20) AS INT), 9)
                   AS bucket, COUNT(*) AS n_a
          FROM documents WHERE source = 'src1' GROUP BY 1
        ),
        b AS (
          SELECT LEAST(CAST(FLOOR(len(string_split(text, ' ')) / 20) AS INT), 9)
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
    """,
    "c68_oov_rate": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        vocab AS (
          SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1
            ORDER BY c DESC, tok LIMIT 20
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
    """,
    "c65_bigram_stats": """
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
        ORDER BY n_total DESC, agg.w1 LIMIT 50
    """,
}
