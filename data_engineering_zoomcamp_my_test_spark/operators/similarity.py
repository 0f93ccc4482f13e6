"""Similarity search over the ``embeddings`` table (SURVEY.md §2.3 C3/C4).

Three tiers, mirroring how ANN is actually run at scale:

1. **Brute-force cosine top-k** — exact baseline. One broadcast of the query
   vector(s); similarity is a JVM-side higher-order expression
   (``zip_with``+``aggregate``, see functions/vectors.py) — no Python in the
   scan loop, scales linearly with executors.
2. **All-pairs kNN** — exact, for bounded corpora; a blocked cross join.
3. **LSH / IVF** — the 100 TB paths: MLlib BucketedRandomProjectionLSH
   (bucket join instead of cross join) and a KMeans-IVF (probe only the
   query's cell) built on first principles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.vectors import dot_product, l2_norm
from ..lineage import cut as lineage_cut
from ..session import env_positive_int
from ..sources.tables import load_table
from .dedup import _collapse_exact, _expand_pairs, _has_exact_copies


def brute_force_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query row. ``query`` is
    broadcast (assumed bounded); the corpus side streams."""
    q = F.broadcast(
        query.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("query_vec"),
            l2_norm(vec_col).alias("query_norm"),
        )
    )
    # Norms are computed once per side before the pair join — at N queries x
    # M corpus rows this saves 2/3 of the per-pair arithmetic.
    corpus = embeddings.withColumn("_norm", l2_norm(vec_col))
    sim = (
        corpus.crossJoin(q)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                dot_product(vec_col, "query_vec")
                / (F.col("_norm") * F.col("query_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def lsh_ann(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bucket_length: float = 1.0,
    num_hash_tables: int = 4,
) -> DataFrame:
    """Approximate NN via random-projection LSH (MLlib). The scale path: the
    corpus is hashed once; lookups touch only matching buckets."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.linalg import Vectors

    data = embeddings.withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(data)
    res = model.approxNearestNeighbors(
        data, Vectors.dense(query_vec), k, distCol="l2_dist"
    )
    return res.select("vec_id", "label", "l2_dist")


def lsh_knn_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dist_threshold: float = 1.5,
    bucket_length: float = 1.0,
    num_hash_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch ANN for a whole DataFrame of queries at once, via MLlib
    ``approxSimilarityJoin`` — a (hash-table, bucket)-keyed join between
    corpus and queries, so the *entire* batch path is distributed: no
    per-query driver hop (``approxNearestNeighbors`` is single-query /
    driver-oriented and is deliberately not used here). Candidates within
    ``dist_threshold`` L2 are exact-ranked per query; top-k kept.

    For unit-normalized vectors d = sqrt(2 - 2cos), so the default
    threshold 1.5 admits everything down to cos ~ -0.125."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    to_vec = lambda df: df.withColumn(  # noqa: E731
        "features", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    corpus = to_vec(embeddings)
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables,
        seed=42,
    )
    model = lsh.fit(corpus)
    joined = model.approxSimilarityJoin(
        corpus, to_vec(queries), dist_threshold, distCol="l2_dist"
    )
    pairs = joined.select(
        F.col(f"datasetB.{id_col}").alias("query_id"),
        F.col(f"datasetA.{id_col}").alias("neighbor_id"),
        F.round("l2_dist", 6).alias("l2_dist"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "l2_dist", "rank")
    )


def ivf_index(
    embeddings: DataFrame, n_cells: int = 16, seed: int = 42
) -> tuple["object", DataFrame]:
    """Build a KMeans-IVF index: corpus partitioned into Voronoi cells.
    Returns (kmeans_model, assigned_corpus). At scale the assignment column
    becomes the physical partition key of the stored index."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = embeddings.withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    km = KMeans(
        k=n_cells, seed=seed, maxIter=8, featuresCol="features", predictionCol="cell"
    )
    model = km.fit(data)
    return model, model.transform(data)


def ivf_search(
    model: "object",
    assigned: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Search only the ``n_probe`` cells nearest to each query vector, then
    exact cosine within those cells — the IVF recall/efficiency trade.

    Cell assignment is an Arrow-batched pandas_udf over the broadcast-by-
    closure centers matrix (one vectorized distance matrix per batch) — no
    row-at-a-time Python anywhere; defined as a local closure so cloudpickle
    ships it by value (workers don't need this package importable)."""
    import numpy as np

    centers = np.asarray(model.clusterCenters(), dtype="float64")
    probe = n_probe

    def _nearest_cells_batch(vecs):
        import numpy as _np
        import pandas as _pd

        C = centers  # (n_cells, dim)
        mat = _np.asarray([_np.asarray(v, dtype="float64") for v in vecs])
        # (batch, n_cells) squared distances in one BLAS pass
        d2 = (
            (mat * mat).sum(axis=1)[:, None]
            - 2.0 * mat @ C.T
            + (C * C).sum(axis=1)[None, :]
        )
        order = _np.argsort(d2, axis=1, kind="stable")[:, :probe]
        return _pd.Series([[int(c) for c in row] for row in order])

    nearest_cells = F.pandas_udf("array<int>")(_nearest_cells_batch)

    q = query.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        l2_norm("embedding").alias("query_norm"),
        F.explode(nearest_cells("embedding")).alias("cell"),
    )
    sim = (
        assigned.withColumn("_norm", l2_norm("embedding"))
        .join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot_product("embedding", "query_vec")
                / (F.col("_norm") * F.col("query_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


# --- declared queries ---------------------------------------------------------

def c3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") == 1), k=10)


def c13_knn_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return brute_force_topk(emb, queries, k=3)


def c4_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-query LSH ANN via MLlib ``approxNearestNeighbors``.

    This is the interactive/driver-oriented API: it pulls ONE query vector to
    the driver and resolves one lookup. For any batch of queries — and for
    anything running at scale — use ``c45_lsh_knn_batch``
    (``approxSimilarityJoin``): it is the bucket-keyed, fully distributed
    path with no per-query driver hop.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 1).select("embedding").head()[0]
    ]
    return lsh_ann(emb, qvec, k=10)


def c19_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    model, assigned = ivf_index(emb, n_cells=8)
    # n_probe=4 of 8 cells: measured recall >= 0.9 vs brute force on the
    # synthetic corpus (tests/test_properties.py pins this bound)
    return ivf_search(
        model, assigned, emb.filter(F.col("vec_id") == 1), k=10, n_probe=4
    )


def c45_lsh_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed batch ANN: 10 queries resolved in one bucket-keyed
    approxSimilarityJoin — the no-driver-hop LSH path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_knn_batch(emb, emb.filter(F.col("vec_id") < 10), k=5)


def _pairable_vectors(embeddings: DataFrame) -> DataFrame:
    """Drop rows that can never produce a cosine pair: NULL embeddings
    (null never joins/compares) and zero-norm embeddings (cosine is
    0/0 — undefined; under Spark's default ANSI mode the division would
    raise DIVIDE_BY_ZERO at runtime rather than yield a filterable NaN).

    Applied at the top of every pairwise operator so the contract is
    plan-invariant: with or without exact-copy collapse, unpairable rows
    simply never appear in the output (ADVICE r4 — previously the
    collapse path could invent cos == 1 intra pairs for identical NULL /
    zero vectors the plain path would have crashed on or dropped)."""
    return embeddings.filter(
        F.col("embedding").isNotNull() & (l2_norm("embedding") > 0)
    )


def embed_neardup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    block_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the routing entry point.

    The DEFAULT path for near-duplicate thresholds (cos >= ~0.8) is
    :func:`lsh_blocked_neardup` (c48): pairs form only inside composite-key
    LSH buckets, whose sizes follow the random projections rather than any
    data column's skew — the 100 TB-safe plan. The exact label-blocked join
    (c18's shape) is the SMALL-CORPUS option: pass ``block_col`` explicitly
    to opt in, acknowledging that one hot block goes quadratic at scale.
    Low thresholds (below the ~0.8 near-dup regime, where LSH distance gaps
    vanish into the background) require the exact path and therefore an
    explicit ``block_col``.
    """
    if block_col is not None:
        return _exact_blocked_neardup(embeddings, threshold, block_col)
    if threshold < 0.8:
        raise ValueError(
            f"threshold={threshold} is below the LSH near-dup regime; "
            "pass block_col= to opt into the exact small-corpus block join"
        )
    return lsh_blocked_neardup(embeddings, threshold=threshold)


def _exact_blocked_neardup(
    embeddings: DataFrame, threshold: float, block_col: str
) -> DataFrame:
    """Exact cosine pairs inside explicit blocks — correct at any
    threshold, quadratic in the largest block (small-corpus baseline).
    Exact-copy groups are still collapsed first (same-block identical
    vectors pair at cos == 1 without entering the quadratic join).

    Hot-block guard (r14, guide §2.5): a skewed block makes the
    self-join's per-task work O(block^2) — one giant label at 100 TB is
    a straggler/OOM. Oversized blocks are therefore SPLIT: per block,
    k = ceil(rows / $SPARK_GRAFT_BLOCK_SALT_ROWS) (default 4096); the
    left side gets a deterministic salt pmod(xxhash64(vec_id), k) and
    the right side is replicated across all k salts, so the join key
    becomes (block, salt). Every qualifying pair (a.vec_id < b.vec_id,
    same block) still matches EXACTLY once — when b's replica salt
    equals a's salt — so the pair set (and the oracle hash) is
    unchanged; per-task work drops from O(n^2) to O(n^2/k) = O(n *
    target) per salt group, and the k groups spread across tasks.
    Blocks at or under the target get k=1: identical join behavior to
    the unsalted form (the replicate explode is a single element).
    AQE's skew-join split cannot do this — it cannot split one enormous
    KEY, only oversized partitions of distinct keys (guide §2.5)."""
    # a zero or negative salt count would drop every right-side row and
    # return an empty pair set, so a bad value raises
    target = env_positive_int("SPARK_GRAFT_BLOCK_SALT_ROWS", 4096)
    embeddings = _pairable_vectors(embeddings)
    if _has_exact_copies(embeddings, block_col, key_col="embedding"):
        mapping, reps = _collapse_exact(
            embeddings, block_col, id_col="vec_id", key_col="embedding"
        )
        rep_pairs = _exact_blocked_neardup(reps, threshold, block_col)
        return _expand_pairs(
            rep_pairs, mapping, "cosine_sim", F.lit(1.0), id_col="vec_id"
        )
    emb = embeddings.withColumn("_norm", l2_norm("embedding"))
    splits = emb.groupBy(block_col).agg(
        F.ceil(F.count(F.lit(1)) / target).cast("int").alias("_bk")
    )
    a = (
        emb.join(splits, block_col)
        .withColumn("_salt", F.pmod(F.xxhash64("vec_id"), F.col("_bk")))
        .drop("_bk")
        .alias("a")
    )
    b = (
        emb.join(splits, block_col)
        .withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.col("_bk") - 1))
        )
        .drop("_bk")
        .alias("b")
    )
    return (
        a.join(
            b,
            (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            F.round(
                dot_product(F.col("a.embedding"), F.col("b.embedding"))
                / (F.col("a._norm") * F.col("b._norm")),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def c18_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the EXACT label-blocked
    join — the small-corpus baseline, kept oracle-checkable at threshold
    0.35 (tuned to the synthetic corpus's similarity range, whose max
    off-diagonal cosine ~0.51 sits below any LSH-able near-dup regime).

    This is deliberately NOT the scale path: pairs form inside ``label``
    blocks, and one skewed block goes quadratic at 100x. The production
    default for real near-dup thresholds (cos >= ~0.8) is
    :func:`embed_neardup` -> :func:`lsh_blocked_neardup` (c48), where block
    sizes follow LSH projections instead of data skew."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _exact_blocked_neardup(emb, 0.35, "label")


def lsh_blocked_neardup(
    embeddings: DataFrame,
    threshold: float = 0.9,
    bucket_length: float = 0.15,
    num_tables: int = 10,
    rows_per_table: int = 3,
) -> DataFrame:
    """Embedding near-dup pairs with **composite-key LSH buckets as the
    blocking key** — the 100 TB form of ``c18_embed_neardup``: instead of a
    data column (label/shard) whose skew can make one block quadratic,
    pairs only form inside an LSH bucket, so block sizes follow the
    projections, not the data's label skew.

    This is the full E2LSH AND/OR scheme, not MLlib's single-projection
    tables: ``rows_per_table * num_tables`` random projections are drawn
    (via BucketedRandomProjectionLSH), and each table's bucket key
    CONCATENATES ``rows_per_table`` of them (AND-composition — bucket count
    grows geometrically, so buckets stay small even on unclustered
    corpora), while a pair is a candidate if it collides in ANY table
    (OR-amplification — recall recovers). One projection per table is the
    degenerate k=1 case and goes quadratic at moderate widths: for
    unit-normalized d-dim embeddings a projection has spread ~1/sqrt(d),
    so a single bucket of width >~ 0.2 swallows most of the corpus
    (measured 59 s at sf0.1 vs ~5 s composite). Exact cosine verification
    runs on candidates only.

    Designed for *near-duplicate* thresholds (cos >= ~0.8, where the pair
    distance sqrt(2-2cos) is well below the ~sqrt(2) background): recall
    and bucket selectivity on planted near-duplicates are pinned in
    tests/test_properties.py. Below the noise floor (this corpus's max
    off-diagonal cosine is ~0.51) no blocking scheme — LSH, cells, or
    anything else — beats exact blocked verification; that regime belongs
    to ``c18_embed_neardup``."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    embeddings = _pairable_vectors(embeddings)
    if _has_exact_copies(embeddings, None, key_col="embedding"):
        mapping, reps = _collapse_exact(
            embeddings, None, id_col="vec_id", key_col="embedding"
        )
        rep_pairs = lsh_blocked_neardup(
            reps, threshold, bucket_length, num_tables, rows_per_table
        )
        return _expand_pairs(
            rep_pairs, mapping, "cosine_sim", F.lit(1.0), id_col="vec_id"
        )

    data = embeddings.withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables * rows_per_table,
        seed=42,
    )
    proj = (
        lsh.fit(data)
        .transform(data)
        .withColumn("_h", F.transform("hashes", lambda v: vector_to_array(v).getItem(0)))
    )
    # AND-composition: table i's key is the tuple of its k projections
    keys = F.array(
        *[
            F.struct(
                *[
                    F.col("_h").getItem(i * rows_per_table + j).alias(f"k{j}")
                    for j in range(rows_per_table)
                ]
            )
            for i in range(num_tables)
        ]
    )
    # Candidate generation runs on SLIM rows (vec_id + bucket key only):
    # carrying the embedding through the L-way explode would shuffle
    # L x corpus-width bytes on both join sides. Pairs are deduped BEFORE
    # verification, so the exact cosine is computed once per unique
    # candidate pair instead of once per colliding table (near-dups — the
    # whole point of OR-amplification — collide in many tables).
    # Both self-join sides reference ``buckets``; Catalyst inlines each
    # reference, so without a lineage cut the whole BRP projection
    # (vector conversion + L*k random-projection hashes per row) executes
    # twice. The materialized relation is slim by construction
    # (vec_id + bucket key only — see the comment above).
    buckets = proj.select(
        "vec_id", F.posexplode(keys).alias("_table", "_bucket")
    ).transform(lineage_cut)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._table") == F.col("b._table"))
            & (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
        )
        .distinct()
    )
    emb = embeddings.select(
        "vec_id", "embedding", l2_norm("embedding").alias("_norm")
    )
    return (
        cand.join(
            emb.select(
                F.col("vec_id").alias("vec_id_a"),
                F.col("embedding").alias("_emb_a"),
                F.col("_norm").alias("_norm_a"),
            ),
            "vec_id_a",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("vec_id_b"),
                F.col("embedding").alias("_emb_b"),
                F.col("_norm").alias("_norm_b"),
            ),
            "vec_id_b",
        )
        .select(
            "vec_id_a",
            "vec_id_b",
            F.round(
                dot_product(F.col("_emb_a"), F.col("_emb_b"))
                / (F.col("_norm_a") * F.col("_norm_b")),
                6,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def c48_lsh_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate regime (cos >= 0.9). The synthetic corpus's max
    off-diagonal cosine is ~0.51, so the pair LIST is deterministically
    empty here — the operator's recall/selectivity evidence comes from the
    planted-duplicate property test, not from this corpus. The decl
    therefore returns the 1-row pair-count summary (n_pairs = 0 is the
    CORRECT answer, and a 1-row result distinguishes 'ran, found none'
    from 'returned nothing' in the driver's rows-only check; reshaped r10
    for the driver seat — the full pipeline still executes under the
    count)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = lsh_blocked_neardup(emb, threshold=0.9)
    return pairs.agg(F.count(F.lit(1)).alias("n_pairs"))


def l2_normalize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalize embeddings (the standard pre-step before cosine ANN:
    normalized vectors turn cosine into dot product). Array-valued output,
    all higher-order functions. Library API — the driver-declared c38
    projection explodes this to scalar rows (see c38_l2_normalize)."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = l2_norm("embedding")
    # The norm must NOT appear inside a transform() lambda: Catalyst
    # inlines the aggregate into the lambda body and evaluates it once
    # PER ELEMENT — O(d^2) per row (measured 5.3x slower at d=64; a
    # two-projection hoist is re-inlined by CollapseProject, also
    # measured). array_repeat evaluates the aggregate once per row and
    # zip_with divides elementwise — identical arithmetic, O(d).
    return emb.select(
        "vec_id",
        F.zip_with(
            F.col("embedding"),
            F.array_repeat(norm, F.size(F.col("embedding"))),
            lambda x, n: F.round(x.cast("double") / n, 6),
        ).alias("unit_vec"),
    )


def c38_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-declared projection of :func:`l2_normalize_embeddings`.

    The array column is posexploded to ``(vec_id, pos, unit_val)`` scalar
    rows because the driver comparator cannot canonicalize array-typed
    cells (r8 `err`: unhashable numpy.ndarray inside its pandas sort).
    One generator, no shuffle — the exploded decl costs the same scan as
    the array one and verifies every element exactly."""
    unit = l2_normalize_embeddings(spark, sf_dir)
    return unit.select(
        "vec_id", F.posexplode("unit_vec").alias("pos", "unit_val")
    )


def quantize_int8_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of embeddings (the storage-scale
    path for 100 TB vector corpora: 4x smaller than float32, dot products
    in integer space). floor(x*scale + 0.5) keeps rounding deterministic
    and engine-portable. Library API — the driver-declared c39 projection
    explodes this to scalar rows (see c39_quantize_int8)."""
    emb = load_table(spark, sf_dir, "embeddings")
    max_abs = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda a, x: F.greatest(a, F.abs(x.cast("double"))),
    )
    scale = F.lit(127.0) / max_abs
    # Same hoist as l2_normalize_embeddings: a scale expression inside
    # the transform() lambda is evaluated per ELEMENT (the max_abs
    # aggregate is O(d), making the row O(d^2)); array_repeat evaluates
    # it once per row and zip_with multiplies elementwise — identical
    # arithmetic. The scalar `scale` output column is once-per-row
    # either way.
    return emb.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.zip_with(
            F.col("embedding"),
            F.array_repeat(scale, F.size(F.col("embedding"))),
            lambda x, s: F.floor(x.cast("double") * s + 0.5).cast("int"),
        ).alias("q_vec"),
    )


def c39_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-declared projection of :func:`quantize_int8_embeddings`,
    posexploded to ``(vec_id, scale, pos, q_val)`` scalar rows for the
    driver comparator (same r8 array-cell limitation as c38)."""
    q = quantize_int8_embeddings(spark, sf_dir)
    return q.select(
        "vec_id", "scale", F.posexplode("q_vec").alias("pos", "q_val")
    )


def negative_sampling(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for each
    query item, ``k`` pseudo-random corpus negatives chosen by a portable
    multiplicative-hash chain over a DENSE id space — the same negatives
    on any cluster, partitioning, or run (the property that makes
    contrastive training reproducible and resumable).

    neg_raw(j) = (id * 2654435761 + j * 97) mod N; a self-draw bumps to
    the next id (mod N). Draws are i.i.d.-style, so two j's may repeat a
    negative — kept (both engines agree; dedup would bias the draw count).
    The output flags hard negatives (same label as the query), which is
    the usual curriculum signal.

    Requires ids dense in [0, N): asserted with the same one-aggregate
    stats probe the collapse operators use; raises ValueError otherwise
    (a ranked-id fallback would need a global sort — wrong default at
    scale, and the export tables this feeds are dense by construction).

    Plan: one stats aggregate, an explode of k rows per query, and ONE
    keyed join of the (tiny) draw list against the corpus on the id —
    AQE broadcasts the draw side. No window, no global sort, no Python.
    """
    row = embeddings.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(id_col).alias("mn"),
        F.max(id_col).alias("mx"),
    ).head()
    n = row["n"]
    if n == 0 or row["mn"] != 0 or row["mx"] != n - 1:
        raise ValueError(
            f"negative_sampling requires dense ids in [0, N); got "
            f"min={row['mn']} max={row['mx']} count={n}"
        )
    draws = queries.select(
        F.col(id_col),
        F.col("label").alias("_qlabel"),
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j"),
    ).withColumn("j", F.col("j").cast("long"))
    nraw = (F.col(id_col) * F.lit(2654435761) + F.col("j") * F.lit(97)) % F.lit(n)
    nid = F.when(nraw == F.col(id_col), (nraw + 1) % F.lit(n)).otherwise(nraw)
    draws = draws.select(
        id_col, "_qlabel", "j", nid.cast("long").alias("neg_id")
    )
    corpus = embeddings.select(
        F.col(id_col).alias("neg_id"), F.col("label").alias("_nlabel")
    )
    return draws.join(corpus, "neg_id").select(
        id_col,
        "j",
        "neg_id",
        (F.col("_nlabel") == F.col("_qlabel")).alias("neg_same_label"),
    )


def label_centroid_cosine(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid fit + each vector's cosine to its OWN label's
    centroid — the standard labeled-training-data audit (a low cosine
    flags a probable mislabel/outlier; the per-label distribution flags
    incoherent classes). Exact and engine-portable: centroids are plain
    per-dimension means, cosines round at 6 decimals.

    Plan: posexplode to (label, dim) cells, ONE keyed groupBy fits all
    centroids in a single pass (numClasses x dim rows — tiny), then the
    scoring join is per-(label, dim) with AQE free to broadcast the
    centroid side, and the final per-vector rollup partial-aggregates on
    vec_id. Shuffles are keyed by (label,dim) and vec_id; nothing is
    quadratic, no Python, linear in N x dim."""
    ex = embeddings.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    cent = ex.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    j = ex.join(F.broadcast(cent), ["label", "dim"])
    return (
        j.groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("x") * F.col("c")).alias("_dot"),
            F.sum(F.col("x") * F.col("x")).alias("_sx"),
            F.sum(F.col("c") * F.col("c")).alias("_sc"),
        )
        .select(
            "vec_id",
            "label",
            F.round(
                F.col("_dot") / F.sqrt(F.col("_sx") * F.col("_sc")), 6
            ).alias("cos_to_centroid"),
        )
    )


def c76_label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-coherence audit over the labeled embeddings table."""
    return label_centroid_cosine(load_table(spark, sf_dir, "embeddings"))


def c67_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 deterministic negatives for each of the first 100 vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    return negative_sampling(emb, emb.filter(F.col("vec_id") < 100), k=4)


def embedding_covariance(
    embeddings: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Upper-triangle population covariance of the embedding matrix —
    the d x d statistic every whitening / PCA / Mahalanobis-distance
    step of an embedding-curation pipeline starts from.

    Scale posture: the ONLY corpus-sized pass is an Arrow-batched
    ``mapInPandas`` that reduces each partition to its partial Gram
    matrix (X^T X via one BLAS matmul per batch), partial dimension sums,
    and a row count — i.e. per-partition map-side combine of the exact
    sufficient statistics. What shuffles is n_partitions x O(d^2) tiny
    partial rows, NEVER the data; a 100 TB corpus shuffles the same few
    thousand rows per partition as sf0.01 does. Assembly (cov = G/n -
    outer(mean, mean)) joins the d-sized sums back as broadcasts. This is
    the deliberate fast-Arrow-path showcase of SURVEY B30 with a full
    exact oracle (unlike the hash-family UDF decls, the output here is
    plain floats DuckDB can reproduce): double-precision accumulation,
    6dp rounding absorbing partition-order last-ulp drift.

    Encoding of the partial rows: (i, j>=0) = Gram cell, (i, -1) =
    dimension sum, (-1, -1) = row count."""

    def _partials(batches):
        import numpy as np
        import pandas as pd

        gram = None
        sums = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            gram = x.T @ x if gram is None else gram + x.T @ x
            sums = x.sum(0) if sums is None else sums + x.sum(0)
            n += x.shape[0]
        if n == 0:
            return
        d = gram.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {"i": iu.astype("int32"), "j": ju.astype("int32"), "v": gram[iu, ju]}
        )
        yield pd.DataFrame(
            {
                "i": np.arange(d, dtype="int32"),
                "j": np.full(d, -1, dtype="int32"),
                "v": sums,
            }
        )
        yield pd.DataFrame({"i": [-1], "j": [-1], "v": [float(n)]})

    parts = embeddings.select(vec_col).mapInPandas(
        _partials, "i int, j int, v double"
    )
    agg = parts.groupBy("i", "j").agg(F.sum("v").alias("v"))
    gram = agg.where(F.col("j") >= 0)
    sums = agg.where((F.col("j") == -1) & (F.col("i") >= 0))
    cnt = agg.where(F.col("i") == -1).select(F.col("v").alias("n"))
    return (
        gram.join(
            F.broadcast(sums.select("i", F.col("v").alias("si"))), "i"
        )
        .join(
            F.broadcast(
                sums.select(F.col("i").alias("j"), F.col("v").alias("sj"))
            ),
            "j",
        )
        .crossJoin(F.broadcast(cnt))
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            # + 0.0 canonicalizes IEEE -0.0 (a near-zero covariance
            # rounding to zero from below) to +0.0 — DuckDB's ROUND
            # preserves the sign bit, Spark's BigDecimal path does not,
            # and the comparator sorts -0.0 before 0.0.
            (
                F.round(
                    F.col("v") / F.col("n")
                    - (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n")),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def c94_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_covariance(load_table(spark, sf_dir, "embeddings"))


PCA_K = 4


def pca_project(
    spark: SparkSession,
    embeddings: DataFrame,
    k: int = PCA_K,
    vec_col: str = "embedding",
) -> DataFrame:
    """Project every embedding onto the top-k principal components of the
    corpus covariance — the dimensionality-reduction / whitening
    front-end for embedding dedup and ANN at scale.

    The eigendecomposition runs driver-side on the 6dp-ROUNDED d x d
    covariance from embedding_covariance(): the collect is O(model_dim^2)
    rows (2,080 for d=64) REGARDLESS of corpus size — the same class of
    bounded driver-side model state MLlib keeps for KMeans/LSH — and
    rounding the input first makes the eigenbasis a pure function of the
    6dp covariance, immune to partition-order last-ulp drift. Sign is
    canonicalized per component (largest-|coordinate| made positive), so
    the output is deterministic end-to-end. numpy.linalg.eigh on a
    64 x 64 symmetric matrix is microseconds; no iterative fitting, no
    data on the driver.

    The projection pass is scan + posexplode + broadcast join against the
    d x k weight table + one vec_id-keyed partial-aggregated sum — linear
    in N x d, no Python in the per-row path. Long output (vec_id, comp,
    score): scalar cells, driver-comparator-safe.

    Not SQL-expressible (eigendecomposition), so the decl is rows-only;
    its evidence is the property suite: orthonormal components, projected
    variance matching eigenvalues in descending order, planted-direction
    recovery (tests/test_properties.py)."""
    import numpy as np

    rows = embedding_covariance(embeddings, vec_col=vec_col).collect()
    d = max(r.dim_j for r in rows) + 1
    cov = np.zeros((d, d))
    for r in rows:
        cov[r.dim_i, r.dim_j] = cov[r.dim_j, r.dim_i] = r.cov
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1][:k]
    proj = eigvecs[:, order]
    for c in range(proj.shape[1]):
        jmax = int(np.argmax(np.abs(proj[:, c])))
        if proj[jmax, c] < 0:
            proj[:, c] = -proj[:, c]
    weights = spark.createDataFrame(
        [
            (int(dim), int(c), float(proj[dim, c]))
            for dim in range(d)
            for c in range(proj.shape[1])
        ],
        "dim int, comp int, w double",
    )
    ex = embeddings.select(
        "vec_id", F.posexplode(vec_col).alias("dim", "x")
    ).withColumn("x", F.col("x").cast("double"))
    return (
        ex.join(F.broadcast(weights), "dim")
        .groupBy("vec_id", "comp")
        .agg(F.round(F.sum(F.col("x") * F.col("w")), 6).alias("score"))
    )


def c95_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pca_project(spark, load_table(spark, sf_dir, "embeddings"))


QUERIES = {
    "c38_l2_normalize": c38_l2_normalize,
    "c67_negative_sampling": c67_negative_sampling,
    "c39_quantize_int8": c39_quantize_int8,
    "c3_cosine_topk": c3_cosine_topk,
    "c13_knn_all": c13_knn_all,
    "c4_lsh_knn": c4_lsh_knn,
    "c19_ivf_knn": c19_ivf_knn,
    "c45_lsh_knn_batch": c45_lsh_knn_batch,
    "c18_embed_neardup": c18_embed_neardup,
    "c48_lsh_embed_neardup": c48_lsh_embed_neardup,
    "c76_label_centroid_cosine": c76_label_centroid_cosine,
    "c94_embedding_covariance": c94_embedding_covariance,
    "c95_pca_project": c95_pca_project,
}

_COS = (
    "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])), 6)"
)

_MAXABS = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))), "
    "(a, v) -> greatest(a, v))"
)

ORACLE = {
    # c94: the pair join on vec_id is the oracle's O(n * d^2) enumeration
    # of the same Gram sums the Spark side gets from per-partition BLAS
    # matmuls; population covariance, 6dp rounding (float-parity
    # convention). c95 has no oracle (eigendecomposition is not
    # SQL-expressible) — rows-only + property suite.
    "c94_embedding_covariance": """
        WITH ex AS (
          SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
          FROM embeddings,
               UNNEST(generate_series(1, len(embedding))) AS u(i)
        ),
        pairs AS (
          SELECT a.dim AS dim_i, b.dim AS dim_j, SUM(a.x * b.x) AS g
          FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.dim <= b.dim
          GROUP BY 1, 2
        ),
        sums AS (SELECT dim, SUM(x) AS s, COUNT(*) AS n FROM ex GROUP BY 1)
        SELECT p.dim_i, p.dim_j,
               ROUND(p.g / si.n - (si.s / si.n) * (sj.s / sj.n), 6)
                 + 0.0 AS cov
        FROM pairs p
        JOIN sums si ON si.dim = p.dim_i
        JOIN sums sj ON sj.dim = p.dim_j
    """,
    "c76_label_centroid_cosine": """
        WITH ex AS (
          SELECT vec_id, label, i - 1 AS dim,
                 CAST(embedding[i] AS DOUBLE) AS x
          FROM embeddings,
               UNNEST(generate_series(1, len(embedding))) AS u(i)
        ),
        cent AS (
          SELECT label, dim, AVG(x) AS c FROM ex GROUP BY 1, 2
        )
        SELECT vec_id, label,
               ROUND(
                 SUM(x * c) / sqrt(SUM(x * x) * SUM(c * c)), 6
               ) AS cos_to_centroid
        FROM ex JOIN cent USING (label, dim)
        GROUP BY vec_id, label
    """,
    "c67_negative_sampling": """
        WITH n AS (SELECT COUNT(*) AS cnt FROM embeddings),
        draws AS (
          SELECT vec_id, label AS qlabel,
                 CAST(unnest(generate_series(1, 4)) AS BIGINT) AS j
          FROM embeddings WHERE vec_id < 100
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
    """,
    # c38/c39 are posexploded to scalar rows: the driver comparator cannot
    # canonicalize array cells (r8 err).  DuckDB zips parallel unnests
    # positionally, so unnest(range(len)) carries the 0-based position.
    "c39_quantize_int8": f"""
        SELECT vec_id,
               round(127.0 / {_MAXABS}, 6) AS scale,
               CAST(unnest(range(len(embedding))) AS INT) AS pos,
               unnest(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> CAST(floor(x * (127.0 / {_MAXABS}) + 0.5) AS INT))) AS q_val
        FROM embeddings
    """,
    "c38_l2_normalize": """
        SELECT vec_id,
               CAST(unnest(range(len(embedding))) AS INT) AS pos,
               unnest(list_transform(
                 CAST(embedding AS DOUBLE[]),
                 x -> round(x / sqrt(list_reduce(
                        list_prepend(CAST(0.0 AS DOUBLE),
                          list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)),
                        (a, v) -> a + v)), 6))) AS unit_val
        FROM embeddings
    """,
    "c3_cosine_topk": f"""
        SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
               {_COS} AS cosine_sim,
               CAST(ROW_NUMBER() OVER (
                 ORDER BY {_COS} DESC, a.vec_id) AS INT) AS rank
        FROM embeddings a, (SELECT * FROM embeddings WHERE vec_id = 1) b
        WHERE a.vec_id <> b.vec_id
        ORDER BY rank LIMIT 10
    """,
    "c13_knn_all": f"""
        SELECT * FROM (
          SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
                 {_COS} AS cosine_sim,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY {_COS} DESC, a.vec_id) AS INT) AS rank
          FROM embeddings a, (SELECT * FROM embeddings WHERE vec_id < 20) b
          WHERE a.vec_id <> b.vec_id
        ) t WHERE rank <= 3
    """,
    # c4_lsh_knn / c19_ivf_knn: approximate operators, rows-only check.
    "c18_embed_neardup": f"""
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, {_COS} AS cosine_sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_COS} >= 0.35
    """,
}
