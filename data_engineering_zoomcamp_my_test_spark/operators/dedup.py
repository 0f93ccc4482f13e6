"""Deduplication operators over the ``documents`` table (SURVEY.md §2.3
C1/C2/C6 + LLM-pipeline extensions).

Scale design: every variant is a pure shuffle-on-key plan (groupBy text-key or
signature-band) — no driver materialization of documents, no cross join of
the corpus. Only connected components collects, and only an edge list of
at most ``_CC_DRIVER_EDGES`` pairs; larger graphs stay distributed.

- exact dedup: hash-groupBy on the raw text (one shuffle keyed by text);
- normalized dedup: same, keyed on a canonical text form;
- MinHash/LSH: per-doc signatures (narrow, JVM-side or Arrow-batched) then a
  shuffle keyed by (band, band-hash) so only same-bucket docs ever meet —
  the standard sub-quadratic near-dup pipeline at 100 TB;
- exact token-Jaccard uses prefix filtering (AllPairs/PPJoin): candidate
  join keyed only on each doc's rarest tokens — exact and sub-quadratic.

The representative row of each duplicate group is chosen by MIN(doc_id) — a
deterministic policy (``dropDuplicates`` keeps an arbitrary row, which would
be partitioning-dependent and unverifiable).
"""

from __future__ import annotations

import logging
import zlib

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import normalized_text
from ..lineage import cut as lineage_cut
from ..sources.tables import load_table

logger = logging.getLogger(__name__)

# Pair-list safety valve (VERDICT r5 #6): when the copy probe predicts the
# ``output="pairs"`` contract will materialize more than this many identity
# pairs, warn (or raise under ``strict_scale``) steering callers to the
# linear ``output="clusters"`` / arithmetic ``output="count"`` forms.
_PAIR_LIST_WARN_THRESHOLD = 1_000_000

# MinHash parameters: h_i(x) = (a_i * x + b_i) mod P, P Mersenne-ish prime.
_MINHASH_PRIME = (1 << 61) - 1
_MINHASH_PRIME_31 = (1 << 31) - 1  # JVM variant: keeps a*h+b below 2^62
_N_HASHES = 32
_N_BANDS = 8  # 8 bands x 4 rows: catches jaccard ~>= 0.5
_SHINGLE_K = 3


def _hash_params(n: int = _N_HASHES) -> list[tuple[int, int]]:
    # Deterministic params from a fixed LCG (no RNG dependency).
    params, x = [], 88172645463325252
    for _ in range(2 * n):
        x ^= (x << 13) & ((1 << 64) - 1)
        x ^= x >> 7
        x ^= (x << 17) & ((1 << 64) - 1)
        params.append(x % _MINHASH_PRIME)
    return [(params[2 * i] or 1, params[2 * i + 1]) for i in range(n)]


_PARAMS = _hash_params()


def _make_minhash_udf():
    """Arrow-batched MinHash signature UDF (C6). Python is unavoidable for
    the shingling+hash loop, so it runs vectorized: per doc, all 32 hash
    functions evaluate as ONE NumPy broadcast ``(a*s + b) % p`` over the
    shingle vector (no per-hash Python loop). Arithmetic lives in the
    31-bit prime field so int64 products cannot overflow (crc32 shingles
    reduced mod 2^31-1 first; a,b < 2^31 ⇒ a*s+b < 2^62).

    Built as a local closure so cloudpickle serializes it **by value**:
    Python workers don't need this package importable (the engine may be
    driven from any cwd / sys.path arrangement)."""
    p31, k = _MINHASH_PRIME_31, _SHINGLE_K
    a_params = [(a % p31) or 1 for a, _ in _PARAMS]
    b_params = [b % p31 for _, b in _PARAMS]
    crc32 = zlib.crc32

    def batch(texts: pd.Series) -> pd.Series:
        import numpy as np

        a = np.asarray(a_params, dtype=np.int64)[:, None]
        b = np.asarray(b_params, dtype=np.int64)[:, None]

        def sig_of(text: str) -> list[int]:
            toks = text.split()
            shingles = {
                crc32(" ".join(toks[i : i + k]).encode())
                for i in range(max(1, len(toks) - k + 1))
            }
            s = np.fromiter(shingles, dtype=np.int64, count=len(shingles)) % p31
            return [int(x) for x in ((a * s[None, :] + b) % p31).min(axis=1)]

        return texts.map(sig_of)

    return F.pandas_udf(T.ArrayType(T.LongType()))(batch)


minhash_signature = _make_minhash_udf()


def minhash_bands_jvm(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """MinHash -> LSH bands computed entirely JVM-side with higher-order
    functions — the hot-path variant (no Python worker, stays inside
    whole-stage codegen): tokens -> k-shingles (``transform`` over an index
    ``sequence``) -> xxhash64 per shingle -> per-hash-function ``array_min``
    of ``pmod(a*h + b, P)`` -> banded hashes.

    The Arrow-batched pandas_udf variant (``minhash_bands``) is kept as the
    documented Python escape hatch (B30); this one is what the LSH pipeline
    uses at scale. Signatures differ between the two variants (different
    base hash), which is fine: MinHash only needs a fixed hash family.
    Arithmetic is kept in 31-bit space (shingle hash reduced mod 2^31-1
    before a*h+b) so products never overflow a long under ANSI mode."""
    docs = _spread_for_cpu(docs)
    k = _SHINGLE_K
    p31 = _MINHASH_PRIME_31
    toks = f"split({text_col}, ' ')"
    shingles = (
        f"transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)), "
        f"i -> pmod(xxhash64(concat_ws(' ', slice({toks}, i, {k}))), {p31}L))"
    )
    with_sh = docs.select("doc_id", F.expr(shingles).alias("_sh"))
    sig_cols = [
        F.expr(
            f"array_min(transform(_sh, h -> pmod({a % p31 or 1}L * h + {b % p31}L, {p31}L)))"
        ).alias(f"_m{i}")
        for i, (a, b) in enumerate(_PARAMS)
    ]
    sig = with_sh.select("doc_id", F.array(*sig_cols).alias("sig"))
    rows_per_band = _N_HASHES // _N_BANDS
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.hash(F.slice("sig", b * rows_per_band + 1, rows_per_band))
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("band", "band_hash"),
    )


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one row per distinct key, deterministic representative."""
    others = [c for c in df.columns if c not in key_cols and c != id_col]
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("n_copies"),
        *[F.min_by(c, id_col).alias(c) for c in others],
    )


def _spread_for_cpu(df: DataFrame) -> DataFrame:
    """Signature computation is CPU-bound per row; a corpus that arrives as
    few parquet files would otherwise run on few cores. Spread it across the
    cluster before the heavy expression (cheap round-robin, no key)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def minhash_bands(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id -> (band, band_hash) pairs; equal band_hash = LSH candidate."""
    docs = _spread_for_cpu(docs)
    rows_per_band = _N_HASHES // _N_BANDS
    sig = docs.withColumn("sig", minhash_signature(F.col(text_col)))
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.hash(F.slice("sig", b * rows_per_band + 1, rows_per_band))
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("band", "band_hash"),
    )
    return bands


def lsh_candidate_pairs(docs: DataFrame, collapse_exact: bool = True) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any (band, band_hash) bucket.
    The only join is keyed on the bucket — sub-quadratic by construction.

    Exact-copy groups are collapsed first (stats probe): identical texts
    share every band, so they are always candidates of each other and of
    whatever their representative matches — the band join never needs to
    see the copies (c copies would cost c^2 per bucket)."""
    if collapse_exact and _has_exact_copies(docs, None):
        mapping, reps = _collapse_exact(docs, None)
        rep_pairs = lsh_candidate_pairs(reps, collapse_exact=False)
        return _expand_pairs(rep_pairs, mapping)
    # Both self-join sides reference ``bands``; Catalyst inlines each
    # reference, so without a lineage cut the whole signature pipeline
    # (shingle explode + 32 array_min hash evaluations per doc) executes
    # twice — the same shared-relation policy as _simhash_band_pairs.
    bands = minhash_bands_jvm(docs).transform(lineage_cut)
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id_a"),
            F.col("r.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )


# Copy ratio n / nd at which the exact-copy collapse pays: a ratio c
# inflates the pair join by at most ~c^2 for the duplicated portion, so
# below the cutoff the worst-case penalty (~2x) is smaller than the
# collapse's own window + expansion overhead (measured ~+3s at sf0.1, where
# the planted ratio is ~1.2); above it the c^2 term dominates (42x measured
# at c = 10). The margin also absorbs approx_count_distinct's ~2% error.
_COPY_RATIO_CUTOFF = 1.5


def _copy_stats(
    rows: DataFrame, block_col: str | None, key_col: str = "text"
) -> tuple[int, int, bool]:
    """``(n, nd, collapse)`` for the exact-copy collapse: the count of
    collapsible rows, the approximate count of their distinct (block, key)
    groups, and whether ``n / nd`` reaches the cutoff. One scan,
    sketch-based — the single bounded action behind ``_has_exact_copies``
    and the pair-list safety valve's blow-up estimate.

    Only rows ``_collapse_exact`` can group are counted: a NULL key (and,
    with ``block_col``, a NULL block) stays a singleton and never pairs, so
    a corpus whose only "copies" are such rows must not trigger the
    collapse — nor re-trigger it on the representatives, which still
    carry every singleton."""
    blk = [F.col(block_col)] if block_col else []
    collapsible = F.col(key_col).isNotNull()
    if block_col:
        collapsible = collapsible & F.col(block_col).isNotNull()
    row = rows.filter(collapsible).agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct(F.struct(*blk, F.col(key_col))).alias("nd"),
    ).head()
    n, nd = int(row["n"]), int(row["nd"])
    return n, nd, n >= _COPY_RATIO_CUTOFF * max(nd, 1)


def _has_exact_copies(
    rows: DataFrame, block_col: str | None, key_col: str = "text"
) -> bool:
    """Stats probe: does the input hold a meaningful share of exact
    (block, key) duplicates? (See ``_copy_stats``.)"""
    return _copy_stats(rows, block_col, key_col)[2]


def _collapse_exact(
    rows: DataFrame,
    block_col: str | None,
    id_col: str = "doc_id",
    key_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Collapse exact-duplicate keys (per block) to one representative —
    the one exact-copy collapse behind every pairwise curation operator,
    for texts (``doc_id``, ``text``) and vectors (``vec_id``,
    ``embedding``) alike.

    Returns ``(mapping, reps)``: ``mapping`` is (``id_col``, rep_id) for
    every input row, ``reps`` is the rows whose id is its group's minimum.
    One window shuffle keyed on (block, key), paid ONCE — the collapsed
    relation is localCheckpoint-materialized because every consumer (plan
    probe, candidate join, expansion joins, CC node set) re-reads it.

    This is the standard pre-step before any pairwise near-dup operator:
    identical texts are J == 1 pairs and identical vectors cos == 1 pairs
    by definition, and no projection, band or block can separate them, so
    pair JOIN work only needs to run over *distinct* keys. Without it, c
    exact copies cost c^2 x the candidate-join work for information the
    group structure already contains (measured 11-16x wall-clock for text
    pairs and 42x for vector pairs at sf1, where the scale generator makes
    c = 10). Callers probe with ``_has_exact_copies`` first and expand the
    representative pairs back with ``_expand_pairs``.

    NULL-key rows — and, when ``block_col`` is set, NULL-*block* rows —
    are singleton groups (rep_id = own id), NOT one shared NULL group:
    SQL window partitioning groups NULLs together, but the non-collapsed
    pair plans all *drop* those rows (null tokens / signatures never join,
    and the block equi-join ``a.block = b.block`` never matches NULLs), so
    a shared group would invent intra identity pairs the plain plan never
    emits. As singletons they pass through to the underlying plan, which
    drops them identically either way — preserving the
    result-invisibility contract (differential-tested for NULL text, NULL
    block and NULL-block vectors in ``test_operators_unit.py``).
    """
    from pyspark.sql.window import Window

    blk = [block_col] if block_col else []
    w = Window.partitionBy(*blk, key_col)
    singleton = F.col(key_col).isNull()
    if block_col:
        singleton = singleton | F.col(block_col).isNull()
    with_rep = rows.withColumn(
        "rep_id",
        F.when(singleton, F.col(id_col)).otherwise(F.min(id_col).over(w)),
    ).transform(lineage_cut)
    mapping = with_rep.select(id_col, "rep_id")
    reps = with_rep.filter(F.col(id_col) == F.col("rep_id")).drop("rep_id")
    return mapping, reps


def _expand_pairs(
    rep_pairs: DataFrame,
    mapping: DataFrame,
    val_col: str | None = None,
    intra_val: "F.Column | None" = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Expand representative-level (``{id}_a``, ``{id}_b``) pairs back to
    all member pairs: cross-group pairs inherit the representatives'
    similarity value (copies are identical, so the value is theirs too);
    intra-group pairs get ``intra_val`` (J == 1, cos == 1, hamming == 0 —
    identity similarity). Linear in OUTPUT size — the quadratic candidate
    join never sees copies.
    """
    id_a, id_b = f"{id_col}_a", f"{id_col}_b"
    vals = [val_col] if val_col else []
    ma = mapping.select(F.col("rep_id").alias(id_a), F.col(id_col).alias("_ma"))
    mb = mapping.select(F.col("rep_id").alias(id_b), F.col(id_col).alias("_mb"))
    cross = (
        rep_pairs.join(ma, id_a)
        .join(mb, id_b)
        .select(
            F.least("_ma", "_mb").alias(id_a),
            F.greatest("_ma", "_mb").alias(id_b),
            *vals,
        )
    )
    m1 = mapping.select("rep_id", F.col(id_col).alias("_a"))
    m2 = mapping.select("rep_id", F.col(id_col).alias("_b"))
    intra = (
        m1.join(m2, "rep_id")
        .where(F.col("_a") < F.col("_b"))
        .select(
            F.col("_a").alias(id_a),
            F.col("_b").alias(id_b),
            *([intra_val.alias(val_col)] if val_col else []),
        )
    )
    return cross.unionByName(intra)


def token_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    block_col: str | None = None,
    collapse_exact: bool = True,
    tokens: "F.Column | None" = None,
    output: str = "pairs",
    max_pairs: int | None = None,
    strict_scale: bool = False,
) -> DataFrame:
    """Exact token-set Jaccard >= ``threshold`` pairs, with **stats-adaptive
    plan selection** (the operator-level analogue of Catalyst's stats-based
    join strategy):

    - **Dense-bitset plan** when the corpus vocabulary fits in 64 bits
      (probed with a bounded ``limit(65)`` collect): each doc's token set
      becomes one BIGINT mask; J = bit_count(a&b)/bit_count(a|b) runs
      entirely inside whole-stage codegen on longs. Enum-like corpora
      (tags, categorical event streams) get this plan; on such data *every*
      token is hot, so token-keyed candidate filters have no selectivity
      and the blocked pair join + 2 popcounts is the cheapest exact plan.
    - **Prefix-filter plan** (AllPairs/PPJoin family) otherwise — the
      general 100 TB path; see ``_jaccard_pairs_prefix``.

    Both plans produce identical (exact) results; the threshold filter and
    double-division jaccard are shared so oracle parity is plan-invariant.

    ``collapse_exact`` (default on) first collapses exact-duplicate texts to
    one representative per (block, text) group, runs the pair plan on
    representatives only, and expands the result back to all doc pairs —
    identical output, but the candidate join never goes quadratic in the
    exact-copy count (see ``_collapse_exact``).

    **Scale safety valve** (the pair LIST is inherently quadratic in the
    exact-copy count — 4.47B pairs at sf10 copy-ratio 10, measured):

    - ``output="count"`` returns one row ``(n_pairs)`` — on copy-heavy
      corpora the count is computed ARITHMETICALLY from group sizes
      (sum sz*(sz-1)/2 intra + sum sz_a*sz_b over rep pairs), so nothing
      quadratic is ever materialized, not even inside the engine.
    - ``output="clusters"`` returns the linear cluster-handle formulation
      ``(doc_id, cluster)`` instead of the pair list (same result as
      :func:`dedup_clusters`): the right consumable at 100 TB.
    - ``max_pairs=N`` bounds a ``"pairs"`` result to N rows (arbitrary
      subset — an inspection/sampling cap, not a top-k).

    Default (``output="pairs"``, ``max_pairs=None``) is unchanged and
    oracle-checked.
    """
    if output not in ("pairs", "count", "clusters"):
        raise ValueError(f"output must be pairs|count|clusters, got {output!r}")
    if output == "clusters":
        return dedup_clusters(
            docs, threshold=threshold, block_col=block_col, tokens=tokens
        )
    if collapse_exact:
        n, nd, has_copies = _copy_stats(docs, block_col)
        if output == "pairs" and n > nd:
            # The pair LIST is the one honestly output-quadratic contract:
            # with uniform copy ratio c = n/nd the identity pairs ALONE are
            # nd * c*(c-1)/2 = n*(c-1)/2 — a floor on the result size that
            # no plan can avoid (it is the answer). Warn past the threshold
            # so 100 TB callers reach for the linear forms instead of
            # discovering the contract the expensive way. Evaluated
            # independently of the collapse cutoff: at n = 100M a
            # copy ratio of just 1.25 already implies ~12.5M identity
            # pairs, so the blow-up estimate must not wait for the
            # collapse plan to be selected.
            est_identity_pairs = int(n * (n / max(nd, 1) - 1) / 2)
            if est_identity_pairs > _PAIR_LIST_WARN_THRESHOLD:
                msg = (
                    "token_jaccard_pairs: copy probe predicts >= %d identity "
                    "pairs (n=%d, distinct~%d) — the output='pairs' list is "
                    "quadratic in the copy count BY CONTRACT. Use "
                    "output='clusters' (linear cluster handles), "
                    "output='count' (arithmetic, nothing materialized), or "
                    "max_pairs=N to cap the list."
                )
                if strict_scale:
                    raise ValueError(msg % (est_identity_pairs, n, nd))
                logger.warning(msg, est_identity_pairs, n, nd)
    else:
        has_copies = False
    if has_copies:
        mapping, reps = _collapse_exact(docs, block_col)
        rep_pairs = token_jaccard_pairs(
            reps, threshold, block_col, collapse_exact=False, tokens=tokens
        )
        if output == "count":
            sizes = mapping.groupBy("rep_id").agg(F.count(F.lit(1)).alias("sz"))
            # NULL-text singletons have sz == 1 -> contribute 0 intra pairs
            intra = sizes.select(
                (F.col("sz") * (F.col("sz") - 1) / 2).cast("long").alias("n")
            )
            cross = (
                rep_pairs.join(
                    sizes.select(
                        F.col("rep_id").alias("doc_id_a"),
                        F.col("sz").alias("_sa"),
                    ),
                    "doc_id_a",
                )
                .join(
                    sizes.select(
                        F.col("rep_id").alias("doc_id_b"),
                        F.col("sz").alias("_sb"),
                    ),
                    "doc_id_b",
                )
                .select((F.col("_sa") * F.col("_sb")).cast("long").alias("n"))
            )
            return intra.unionByName(cross).agg(
                F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_pairs")
            )
        expanded = _expand_pairs(rep_pairs, mapping, "jaccard", F.lit(1.0))
        return expanded.limit(max_pairs) if max_pairs is not None else expanded
    blk = [block_col] if block_col else []
    # ``tokens`` swaps the set elements (default: distinct word tokens) for
    # any other deterministic set expression — e.g. 3-gram shingles for the
    # word-order-sensitive n-gram Jaccard variant (c56). Identical text
    # still implies identical sets, so the exact-copy collapse above holds.
    toks_expr = (
        tokens if tokens is not None else F.array_distinct(F.split("text", " "))
    )
    # Tokenizing is the expensive corpus pass (shingle construction is
    # O(text) per row) and ``base`` feeds 3-4 plan references (explode for
    # the token-frequency agg, the ranked prefix build, and both verify
    # sides) — Catalyst inlines each reference, so without a lineage cut
    # the corpus is re-scanned and re-tokenized per reference (measured:
    # 12 parquet scans in the c56 plan). One localCheckpoint makes it a
    # single pass (guide §2.4 / §5); every downstream consumer reads the
    # materialized (doc_id, toks, n_tok) relation.
    # ``_spread_for_cpu`` before a *custom* set expression (c56's 3-gram
    # shingles: an interpreted higher-order transform, the CPU-dominant
    # pass): a corpus arriving as few parquet files (or as an
    # AQE-coalesced checkpoint in the collapse recursion) would tokenize
    # on as few cores. For the default word split the expression is
    # cheaper than the round-robin shuffle (A/B-measured), so plain docs
    # feed the pass directly.
    src = _spread_for_cpu(docs) if tokens is not None else docs
    base = (
        src
        .select(
            "doc_id",
            *blk,
            toks_expr.alias("toks"),
        )
        .withColumn("n_tok", F.size("toks"))
        .transform(lineage_cut)
    )
    # Two-step plan probe, cheap in the big-corpus case: first scan a
    # bounded document sample — if IT already exceeds 64 distinct tokens,
    # the prefix plan is forced with no full-corpus work. Only a sample
    # that stays small (enum-like vocabularies) pays the full distinct,
    # which the bitset plan needs anyway: its mask is only correct with
    # the COMPLETE vocabulary, so sampling alone can never select it.
    sample_vocab = (
        base.limit(2048).select(F.explode("toks").alias("tok")).distinct().take(65)
    )
    if len(sample_vocab) > 64:
        pairs = _jaccard_pairs_prefix(base, threshold, block_col)
    else:
        vocab = [
            r[0]
            for r in base.select(F.explode("toks").alias("tok")).distinct().take(65)
        ]
        if len(vocab) <= 64:
            pairs = _jaccard_pairs_bitset(base, sorted(vocab), threshold, block_col)
        else:
            pairs = _jaccard_pairs_prefix(base, threshold, block_col)
    if output == "count":
        return pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    return pairs.limit(max_pairs) if max_pairs is not None else pairs


def _jaccard_pairs_bitset(
    base: DataFrame, vocab: list[str], threshold: float, block_col: str | None
) -> DataFrame:
    """Small-vocabulary exact Jaccard: token set -> 64-bit mask, blocked
    self-join, popcount arithmetic. No explode, no candidate shuffle — the
    only shuffle is the block-keyed pair join."""
    quoted = ", ".join("'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'" for t in vocab)
    mask = F.expr(
        f"aggregate(transform(toks, t -> shiftleft(1L, "
        f"cast(array_position(array({quoted}), t) - 1 as int))), "
        f"0L, (acc, x) -> acc | x)"
    )
    # The mask projection (array_position per token) feeds both self-join
    # sides; cut once so it is computed once.
    m = base.select(
        "doc_id", *([block_col] if block_col else []), mask.alias("mask"), "n_tok"
    ).transform(lineage_cut)
    a, b = m.alias("a"), m.alias("b")
    cond = (
        (F.col("a.doc_id") < F.col("b.doc_id"))
        # size pruning, rounding-tolerant: n_tok*t can pick up 1-ulp noise
        # (20*0.55 -> 11.000000000000002) which would wrongly exclude exact
        # J == t boundary pairs; round() restores the mathematical product
        # for any threshold with <= 6 decimal digits.
        & (F.col("b.n_tok") >= F.round(F.col("a.n_tok") * F.lit(threshold), 6))
        & (F.col("a.n_tok") >= F.round(F.col("b.n_tok") * F.lit(threshold), 6))
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = F.bit_count(F.col("a.mask").bitwiseAND(F.col("b.mask")))
    union = F.bit_count(F.col("a.mask").bitwiseOR(F.col("b.mask")))
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            inter.alias("_inter"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        # contract (both plans): pairs sharing >= 1 token with J >= threshold
        .filter((F.col("_inter") > 0) & (F.col("jaccard") >= threshold))
        .drop("_inter")
    )


def _jaccard_pairs_prefix(
    base: DataFrame, threshold: float, block_col: str | None
) -> DataFrame:
    """Exact token-set Jaccard via **prefix filtering** (AllPairs/PPJoin) —
    exact answers with a sub-quadratic plan on natural-language vocabularies.

    Naive token-keyed self-join costs sum over tokens of (docs-per-token)^2;
    one hot token ("the") makes a quadratic reducer at 100 TB. Prefix
    filtering fixes that *without* losing exactness: order each doc's token
    set by a global rarity order (ascending corpus frequency, token as
    tiebreak) and keep only the first ``n_tok - ceil(t*n_tok) + 1`` tokens
    (the doc's rarest). Any pair with J >= t must share a token *within both
    prefixes* (pigeonhole on the minimum-order common token: J >= t implies
    overlap >= ceil(t*n_tok) on each side), so the candidate join is keyed
    only on rare tokens — hot-token buckets never form. Candidates are then
    verified with one ``array_intersect`` per pair, all JVM expressions.

    Stages (all linear shuffles except the rare-token candidate join):
    explode -> token-frequency agg -> per-doc rank window -> prefix join
    (with size pruning: J >= t forces t*|x| <= |y| <= |x|/t) -> verify.
    ``block_col`` additionally restricts pairs to the same block.
    """
    from pyspark.sql.window import Window

    blk = [block_col] if block_col else []
    toks = base.select("doc_id", *blk, "n_tok", F.explode("toks").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    ranked = toks.join(freq, "tok").withColumn(
        "rnk",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("tf", "tok")),
    )
    # Rounding-tolerant overlap bound: F.ceil over a raw double product
    # over-counts when t*n_tok is mathematically an integer that rounds up
    # in binary (0.55*20 -> 11.000000000000002 -> ceil 12), shrinking the
    # prefix below the pigeonhole requirement and silently dropping pairs.
    prefix_len = (
        F.col("n_tok") - F.ceil(F.round(F.col("n_tok") * F.lit(threshold), 6)) + 1
    )
    # Both sides of the candidate self-join reference ``prefix``; cutting
    # lineage here materializes the explode -> frequency join -> rank
    # window chain once instead of twice (the two window Exchanges are not
    # recognized as reusable once one side broadcasts).
    prefix = ranked.filter(F.col("rnk") <= prefix_len).transform(lineage_cut)

    a, b = prefix.alias("a"), prefix.alias("b")
    cond = (
        (F.col("a.tok") == F.col("b.tok"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # size pruning: J >= t is impossible outside these bounds (same
        # rounding tolerance as the bitset plan)
        & (F.col("b.n_tok") >= F.round(F.col("a.n_tok") * F.lit(threshold), 6))
        & (F.col("a.n_tok") >= F.round(F.col("b.n_tok") * F.lit(threshold), 6))
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cands = (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )

    ta = base.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("toks").alias("toks_a"),
        F.col("n_tok").alias("n_tok_a"),
    )
    tb = base.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("toks").alias("toks_b"),
        F.col("n_tok").alias("n_tok_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        cands.join(ta, "doc_id_a")
        .join(tb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            (
                inter.cast("double")
                / (F.col("n_tok_a") + F.col("n_tok_b") - inter).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """64-bit SimHash per document: per-token 64-bit hashes (JVM xxhash64),
    bit-majority vote across tokens, reassembled into one BIGINT.

    Pure expression work — explode + one partial-aggregated groupBy over
    codegen'd per-bit vote sums. (A zero-shuffle per-row higher-order-fold
    variant was measured and rejected: nested lambda interpretation is ~2
    orders of magnitude slower than the code-generated aggregate.)

    ``portable=True`` swaps xxhash64 for a 60-bit md5-derived token hash
    (first 15 hex chars parsed base-16) that DuckDB reproduces bit-for-bit
    with ``md5`` + hex arithmetic — the engine-portable twin that lets the
    driver hash-check SimHash moments exactly (c84). Requires
    ``bits <= 60``; the production path stays xxhash64 (one JVM op per
    token vs md5's full digest)."""
    if portable:
        if bits > 60:
            raise ValueError(f"portable simhash supports <=60 bits, got {bits}")
        hash_expr = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    else:
        hash_expr = F.xxhash64("tok")
    toks = docs.select(
        "doc_id", F.explode(F.split(text_col, " ")).alias("tok")
    ).withColumn("h", hash_expr)
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    sh = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        sh = term if sh is None else sh.bitwiseXOR(term)
    return votes.select("doc_id", sh.alias("simhash"))


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n_bands: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash banding with a **guaranteed-recall** band
    count: a pair within ``max_hamming`` bits can spread its differing bits
    over at most ``max_hamming`` bands, so with ``n_bands > max_hamming``
    (pigeonhole) at least one band is identical and the pair is keyed into a
    shared (band, chunk) bucket — the join is never all-pairs and never
    misses a qualifying pair. The exact ``bit_count`` Hamming filter then
    removes false candidates, so the result is *exact*, not approximate.

    ``n_bands=None`` (default) picks the smallest divisor of 64 that is
    > ``max_hamming``; passing an explicit ``n_bands <= max_hamming`` is a
    ``ValueError`` (it would silently violate the recall contract)."""
    if n_bands is None:
        n_bands = next(b for b in (1, 2, 4, 8, 16, 32, 64) if b > max_hamming)
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} <= max_hamming={max_hamming} breaks the "
            "pigeonhole recall guarantee; need n_bands > max_hamming"
        )
    if 64 % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide 64")
    # Exact-copy collapse (stats probe): identical texts hash to identical
    # fingerprints, which collide in EVERY band bucket — c copies cost c^2
    # per bucket AND c redundant signature computations. Representatives
    # carry the pair search; copies re-attach with hamming 0 intra-group
    # and their rep's hamming cross-group (identical fingerprint).
    if collapse_exact and _has_exact_copies(docs, None):
        mapping, reps = _collapse_exact(docs, None)
        rep_pairs = _simhash_band_pairs(simhash(reps), max_hamming, n_bands)
        return _expand_pairs(
            rep_pairs, mapping, "hamming", F.lit(0).cast("int")
        )
    return _simhash_band_pairs(simhash(docs), max_hamming, n_bands)


def _simhash_band_pairs(
    sh: DataFrame, max_hamming: int, n_bands: int, bits: int = 64
) -> DataFrame:
    """Banded candidate join + exact Hamming verify over a precomputed
    (doc_id, simhash) frame. Separated so the pigeonhole guarantee is
    testable on constructed bit patterns."""
    if bits % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide bits={bits}")
    width = bits // n_bands
    bands = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "chunk"),
    # both self-join sides reference ``bands``, and Catalyst inlines each
    # reference — without a lineage cut the whole upstream fingerprint
    # pipeline (token explode + per-bit vote aggregate) executes twice
    ).transform(lineage_cut)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# One collect of 1M (src, dst) id pairs is ~16 MB on the driver. Below this
# bound a driver union-find beats any number of distributed rounds, whose
# per-round job latency, not compute, dominates small graphs.
_CC_DRIVER_EDGES = 1_000_000


def connected_components_star(
    ids: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_id_a",
    dst_col: str = "doc_id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating **large-star / small-star**
    rounds (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the 100 TB-scale algorithm: O(log n) rounds regardless of
    component diameter, where min-label propagation needs O(diameter)
    rounds (a 1M-hop chain: ~20 rounds vs ~1M).

    Rounds rewrite the edge set only (no label table):

    - **large-star**: each node u links every strictly-larger neighbor to
      m = min(N(u) | {u}) — long chains contract geometrically;
    - **small-star**: on (big -> small)-oriented edges, each node links its
      smaller neighbors and itself to its minimum neighbor.

    Both emissions are canonically oriented (big, small) and distinct, so
    the fixpoint — every component a star rooted at its minimum id — is
    detected by exact set equality of consecutive edge sets (count + one
    ``exceptAll`` probe; no hash shortcut that could silently lie). Ids
    only need to be orderable, not numeric.

    Per round: two self-describing shuffles (groupBy min + join), both on
    the edge relation — no unbounded reducer state; ``localCheckpoint``
    truncates lineage. Output contract matches ``connected_components``:
    one row per id in ``ids`` with ``cluster`` = component minimum
    (singletons label themselves).
    """
    e = (
        edges.select(
            F.greatest(F.col(src_col), F.col(dst_col)).alias("a"),
            F.least(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .transform(lineage_cut)
    )
    prev_cnt = e.count()
    for _ in range(max_iter):
        # large-star: emit (v, m) for every neighbor v > u
        sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
        mins = mins.select("a", F.least("mn", "a").alias("m"))
        ls = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: emit (v, m) for v in N(u) | {u}, v != m (edges in ls
        # are already (big, small)-oriented, so the group key IS the max)
        mins2 = ls.groupBy("a").agg(F.min("b").alias("m"))
        ss = (
            ls.join(mins2, "a")
            .select(F.explode(F.array(F.col("a"), F.col("b"))).alias("n"), "m")
            .where(F.col("n") != F.col("m"))
            .select(F.col("n").alias("a"), F.col("m").alias("b"))
            .distinct()
            .transform(lineage_cut)
        )
        cnt = ss.count()
        if cnt == prev_cnt and ss.exceptAll(e).isEmpty():
            e = ss
            break
        e, prev_cnt = ss, cnt
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — structurally unreachable for max_iter >= 2*log2(n)+2; "
            "raise max_iter"
        )
    return _label_ids(ids, id_col, e)


def _label_ids(ids: DataFrame, id_col: str, labels: DataFrame) -> DataFrame:
    """One row per ``ids`` row: ``(id, cluster)`` from the ``(a, b)`` =
    (node, component minimum) rows in ``labels``; ids absent from it are
    singletons and label themselves."""
    return (
        ids.select(F.col(id_col).alias("a"))
        .join(labels, "a", "left")
        .select(
            F.col("a").alias(id_col),
            F.coalesce(F.col("b"), F.col("a")).alias("cluster"),
        )
    )


def _union_find_minima(src: list, dst: list) -> dict:
    """Map every node of the edge list to its component minimum. The smaller
    root always wins a union, so each root is its component's minimum."""
    parent: dict = {}

    def find(x):
        while (p := parent[x]) != x:
            parent[x] = x = parent[p]  # path halving
        return x

    for a, b in zip(src, dst):
        ra = find(parent.setdefault(a, a))
        rb = find(parent.setdefault(b, b))
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def connected_components(
    ids: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "doc_id_a",
    dst_col: str = "doc_id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components — the step that turns pairwise near-dup
    candidates into duplicate *clusters*: one ``(id, cluster)`` row per
    ``ids`` row, ``cluster`` the component's minimum id, singletons labelled
    by themselves, edges with a NULL endpoint ignored. Edge lists of up to
    ``_CC_DRIVER_EDGES`` rows are collected once through Arrow and solved by
    a union-find on the driver, so a small graph costs one job instead of a
    broadcast, a lineage cut and a convergence probe per round; Python
    orders integers and strings as Spark does (UTF-8 byte order is
    code-point order), so numeric and string ids take the same path. Larger edge lists run
    :func:`connected_components_star` (O(log n) distributed rounds,
    ``max_iter`` bounds them)."""
    collected = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .limit(_CC_DRIVER_EDGES + 1)
        .toArrow()
    )
    if collected.num_rows > _CC_DRIVER_EDGES:
        return connected_components_star(
            ids, edges, id_col, src_col, dst_col, max_iter=max_iter
        )
    minima = _union_find_minima(
        collected.column("a").to_pylist(), collected.column("b").to_pylist()
    )
    id_type = ids.schema[id_col].dataType
    labels = ids.sparkSession.createDataFrame(
        pa.table({"a": list(minima), "b": list(minima.values())}),
        T.StructType([T.StructField("a", id_type), T.StructField("b", id_type)]),
    )
    return _label_ids(ids, id_col, labels)


def dedup_clusters(
    docs: DataFrame,
    threshold: float = 0.5,
    block_col: str | None = "source",
    tokens: "F.Column | None" = None,
) -> DataFrame:
    """Near-dup clustering: token-Jaccard pairs -> connected components ->
    (doc_id, cluster) where cluster is the min doc_id reachable; docs in no
    pair form singleton clusters.

    Exact-copy groups are collapsed BEFORE the pair join and CC: copies
    share their representative's component by a J == 1 edge, so the graph
    only needs one node per distinct (block, text) — CC never sees the copy
    multiplier, and the quadratic intra-group pair set is never materialized
    at all (cluster labels re-attach through the doc->rep mapping, which is
    linear). Label semantics are unchanged: a
    rep is its group's min doc_id, so the component-min over reps IS the
    component-min over all member docs. Copy-free corpora (stats probe)
    skip the collapse and run CC on the docs directly."""
    if not _has_exact_copies(docs, block_col):
        pairs = token_jaccard_pairs(
            docs,
            threshold=threshold,
            block_col=block_col,
            collapse_exact=False,
            tokens=tokens,
        )
        return connected_components(docs.select("doc_id"), pairs)
    mapping, reps = _collapse_exact(docs, block_col)
    rep_pairs = token_jaccard_pairs(
        reps,
        threshold=threshold,
        block_col=block_col,
        collapse_exact=False,
        tokens=tokens,
    )
    rep_clusters = connected_components(reps.select("doc_id"), rep_pairs)
    return (
        mapping.join(
            rep_clusters.withColumnRenamed("doc_id", "rep_id"), "rep_id"
        )
        .select("doc_id", "cluster")
    )


def c36_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup clustering pipeline: exact-copy collapse -> exact
    token-Jaccard pairs via prefix filtering (blocked by source) ->
    connected components over representatives -> (doc_id, cluster)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_clusters(docs, threshold=0.5, block_col="source")


# --- declared queries ---------------------------------------------------------

def c1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "text", "n_copies")
    )


def c2_dedup_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("norm_text", normalized_text("text"))
        .groupBy("norm_text")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "norm_text", "n_copies")
    )


def c6_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_bands(docs)


def c6_lsh_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(docs)


def c17_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return token_jaccard_pairs(docs, threshold=0.5, block_col="source")


def incremental_dedup(
    new_docs: DataFrame, corpus: DataFrame, key: F.Column | str = "text"
) -> DataFrame:
    """Keep only new docs whose key does not already exist in the corpus —
    the incremental-ingest dedup step of a training-data pipeline. One
    left-anti join keyed on the dedup key; at 100 TB the corpus side is a
    bucketed fingerprint table so the join is shuffle-free."""
    keycol = F.col(key) if isinstance(key, str) else key
    n = new_docs.withColumn("_k", keycol)
    c = corpus.withColumn("_k", keycol).select("_k").distinct()
    return n.join(c, "_k", "left_anti").drop("_k")


def c29_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'src0' arrives as the new batch; every other source is the existing
    corpus. Normalized-text key."""
    docs = load_table(spark, sf_dir, "documents")
    new_b = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return incremental_dedup(new_b, corpus, normalized_text("text")).select(
        "doc_id", "source", "lang"
    )


def c33_minhash_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_bands_jvm(load_table(spark, sf_dir, "documents"))


def c43_keep_best_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup policy end-to-end: near-dup pairs -> connected
    components -> keep the highest-quality doc per cluster (tie: lowest
    doc_id). This is what a production training-data pipeline actually
    ships: a keeper list, not just pairs."""
    from ..functions.text import english_stopword_hits, token_count

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(docs, threshold=0.5, block_col="source")

    ntok = token_count("text").cast("double")
    hits = english_stopword_hits("text").cast("double")
    avg_wl = F.col("n_chars").cast("double") / ntok
    quality = (hits / ntok) * F.lit(0.5) + (
        F.lit(1.0) / (F.lit(1.0) + F.abs(avg_wl - F.lit(5.0)))
    ) * F.lit(0.5)
    scored = docs.select("doc_id", F.round(quality, 9).alias("q"))

    member = clusters.join(scored, "doc_id")
    best = member.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max_by(
            F.struct(F.col("doc_id"), F.col("q")),
            F.struct(F.col("q"), -F.col("doc_id")),
        ).alias("_best"),
    )
    return best.select(
        "cluster",
        F.col("_best.doc_id").alias("kept_doc_id"),
        F.round(F.col("_best.q"), 6).alias("kept_quality"),
        "n_members",
    )


def c27_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"))


def c28_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming radius 3 over 64-bit fingerprints — the standard SimHash
    near-dup radius (Manku, Jain & Das Sarma, WWW'07). Auto-banding gives 4
    bands > 3 differing bits, so recall is guaranteed, and 16-bit chunks
    keep the candidate buckets selective."""
    return simhash_near_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


def simhash_moments(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 60,
    n_bands: int = 4,
) -> DataFrame:
    """Exact SimHash near-dup MOMENTS — pair count per Hamming distance
    0..``max_hamming`` — computed with the engine-portable md5 token hash
    (``simhash(portable=True)``) so the whole thing is DuckDB-checkable
    bit-for-bit: the c57 pattern applied to c28, promoting the SimHash
    family from rows-only to a driver-exact histogram.

    Same count decomposition as c57: identical texts have identical
    fingerprints, so exact-copy groups contribute ``sz*(sz-1)/2`` pairs at
    distance 0 arithmetically, and the banded pair search (pigeonhole-
    exact, ``_simhash_band_pairs``) runs on one representative per
    distinct text — nothing quadratic in the copy ratio. Output is the
    FULL support (one row per distance, zero-filled), never empty, so a
    no-near-dup corpus still yields a checkable 4-row histogram."""
    if n_bands <= max_hamming:
        # same recall contract as simhash_near_pairs: with n_bands <=
        # max_hamming a qualifying pair can differ in every band and
        # silently vanish from the histogram
        raise ValueError(
            f"n_bands={n_bands} <= max_hamming={max_hamming} breaks the "
            "pigeonhole recall guarantee; need n_bands > max_hamming"
        )
    base = docs.filter(F.col("text").isNotNull())
    # four consumers (fingerprint build, both size joins, intra agg) —
    # cut lineage so the text-keyed aggregate runs once (guide §2.4)
    groups = base.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("sz")
    ).transform(lineage_cut)
    # (a _spread_for_cpu before the fingerprint build was A/B-measured
    # slower here — simhash's bitwise vote sums are cheap enough that the
    # round-robin shuffle costs more than the parallelism buys, unlike
    # minhash_moments' k x md5+conv slot hashes)
    sh = simhash(groups, bits=bits, portable=True)
    rep_pairs = _simhash_band_pairs(sh, max_hamming, n_bands, bits=bits)
    szs = groups.select("doc_id", "sz")
    cross = (
        rep_pairs.join(
            szs.select(F.col("doc_id").alias("doc_id_a"), F.col("sz").alias("sz_a")),
            "doc_id_a",
        )
        .join(
            szs.select(F.col("doc_id").alias("doc_id_b"), F.col("sz").alias("sz_b")),
            "doc_id_b",
        )
        .select("hamming", (F.col("sz_a") * F.col("sz_b")).alias("n"))
    )
    intra = groups.agg(
        F.coalesce(F.sum(F.expr("sz * (sz - 1) DIV 2")), F.lit(0)).alias("n")
    ).select(F.lit(0).alias("hamming"), "n")
    spark = docs.sparkSession
    support = spark.range(max_hamming + 1).select(
        F.col("id").cast("int").alias("hamming")
    )
    counts = cross.unionByName(intra).groupBy("hamming").agg(F.sum("n").alias("n"))
    return (
        support.join(counts, "hamming", "left")
        .select(
            "hamming",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_pairs"),
        )
    )


def c84_simhash_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-exact SimHash moments over the documents table (radius 3)."""
    return simhash_moments(load_table(spark, sf_dir, "documents"), max_hamming=3)


def minhash_moments(
    docs: DataFrame,
    k: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Exact MinHash-LSH band-collision MOMENTS — pair count per
    number-of-shared-bands 1..``n_bands`` — with a fully engine-portable
    hash family, so the flagship banded-MinHash dedup plan (c6/c33)
    gains a driver-exact DuckDB twin (the c84 trick applied to MinHash).

    Hash family: ``h_i(s) = md5-60bit(concat(i, ':', s))`` over the same
    3-gram word shingles c6 uses — k independent md5 draws instead of
    affine transforms of one draw, because a * h mod p overflows BIGINT
    in both engines while md5 is bit-identical in both. Signatures live
    on one representative per distinct text (exact-copy collapse), band
    keys are the '-'-joined minima in slot order, and copies re-attach
    arithmetically: intra-group pairs share ALL bands by construction
    (identical text -> identical signature), cross-rep pairs weight
    ``sz_a * sz_b``. Output is the zero-filled 1..n_bands support —
    never empty, monotone evidence of the LSH collision structure.

    Plan shape: explode shingles x k slots (linear, keyed), one
    partial-aggregating min per (doc, slot), one groupBy per (doc,
    band), and a band-bucket self-join on reps only — the identical
    candidate topology the production xxhash64 path uses, so what the
    oracle certifies is the banding/bucketing logic itself."""
    if k % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide k={k}")
    rows_per_band = k // n_bands
    base = docs.filter(F.col("text").isNotNull())
    # ``groups`` feeds four consumers (signature build, both size joins,
    # the intra-pair aggregate); cut lineage so the text-keyed aggregate
    # runs once instead of four times (guide §2.4).
    groups = base.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("sz")
    ).transform(lineage_cut)
    # AQE coalesces the small text-keyed shuffle to ~1 partition; without a
    # spread the k-hash signature build (the CPU-dominant stage) runs on
    # one core. Round-robin repartition of the collapsed relation is
    # ~free and restores full parallelism.
    sh = _spread_for_cpu(groups).select(
        "doc_id", F.explode(F.expr(_SHINGLE_SET_EXPR)).alias("shingle")
    )
    # All k slot minima in ONE doc-keyed aggregate: k md5 expressions per
    # (doc, shingle) row instead of a k-way row explode through the hash
    # aggregate — same hash count, 1/k the aggregated rows, and one
    # shuffle instead of two (the old plan re-grouped (doc, slot) minima
    # by (doc, band); band keys are now a pure projection of the slot
    # minima, which are already in slot order — identical '-'-joined
    # keys).
    def _slot_hash(i: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))), 1, 15
                ),
                16,
                10,
            )
            .cast("long")
        )

    mins = sh.groupBy("doc_id").agg(
        *[F.min(_slot_hash(i)).alias(f"mh{i}") for i in range(k)]
    )
    bands = mins.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bd).cast("int").alias("band"),
                        F.concat_ws(
                            "-",
                            *[
                                F.col(f"mh{i}").cast("string")
                                for i in range(
                                    bd * rows_per_band, (bd + 1) * rows_per_band
                                )
                            ],
                        ).alias("bkey"),
                    )
                    for bd in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
    # the band relation feeds both sides of the bucket self-join — cut it
    # so the shingle explode + k-hash aggregate runs once, not twice
    ).transform(lineage_cut)
    a, b = bands.alias("a"), bands.alias("b")
    rep_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    szs = groups.select("doc_id", "sz")
    cross = (
        rep_pairs.join(
            szs.select(F.col("doc_id").alias("doc_id_a"), F.col("sz").alias("sz_a")),
            "doc_id_a",
        )
        .join(
            szs.select(F.col("doc_id").alias("doc_id_b"), F.col("sz").alias("sz_b")),
            "doc_id_b",
        )
        .select(
            F.col("n_shared_bands"), (F.col("sz_a") * F.col("sz_b")).alias("n")
        )
    )
    intra = groups.agg(
        F.coalesce(F.sum(F.expr("sz * (sz - 1) DIV 2")), F.lit(0)).alias("n")
    ).select(F.lit(n_bands).alias("n_shared_bands"), "n")
    spark = docs.sparkSession
    support = spark.range(1, n_bands + 1).select(
        F.col("id").cast("int").alias("n_shared_bands")
    )
    counts = (
        cross.unionByName(intra).groupBy("n_shared_bands").agg(F.sum("n").alias("n"))
    )
    return support.join(counts, "n_shared_bands", "left").select(
        "n_shared_bands",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_pairs"),
    )


def c85_minhash_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-exact MinHash band-collision moments (k=16, 4 bands)."""
    return minhash_moments(load_table(spark, sf_dir, "documents"))


_SHINGLE_SET_EXPR = (
    "array_distinct(transform("
    "sequence(1, greatest(size(split(text, ' ')) - 2, 1)), "
    "i -> concat_ws(' ', slice(split(text, ' '), i, 3))))"
)


def decontaminate(
    corpus: DataFrame,
    heldout: DataFrame,
    text_col: str = "text",
    collapse_exact: bool = True,
) -> DataFrame:
    """Test-set decontamination — the training-data hygiene op every LLM
    pipeline runs before training: find corpus documents sharing any
     3-token shingle with a held-out evaluation set, with the overlap count
    as evidence. Plan: the held-out side reduces to a distinct-shingle set
    (eval sets are small by construction — broadcast); the corpus side is
    one linear explode joined on the shingle — no corpus self-join, scales
    with corpus size.

    Copy-heavy corpora (r5): the shingle explode + probe-join pays the
    full exact-copy multiplicity — identical texts share every shingle, so
    c copies cost c x the explode/join work for information one
    representative already carries (measured 151 s for the full sf10 sweep
    entry at copy-ratio 100). The same stats probe the pairwise operators
    use (``_has_exact_copies``) routes such corpora through
    ``_collapse_exact``: the explode/join runs on one representative per
    distinct (source, text) group and the per-doc counts expand back
    through the doc -> rep mapping (copies share their representative's
    overlap count by definition). Result-identical either way
    (differential-tested); plain corpora skip the collapse overhead."""
    test_sh = F.broadcast(
        heldout.select(F.explode(F.expr(_SHINGLE_SET_EXPR)).alias("sh")).distinct()
    )

    def _hits(docs: DataFrame) -> DataFrame:
        corp = docs.select(
            "doc_id", "source", F.explode(F.expr(_SHINGLE_SET_EXPR)).alias("sh")
        )
        return (
            corp.join(test_sh, "sh")
            .groupBy("doc_id", "source")
            .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
        )

    if collapse_exact and _has_exact_copies(corpus, "source"):
        mapping, reps = _collapse_exact(corpus, "source")
        rep_hits = _hits(reps).withColumnRenamed("doc_id", "rep_id")
        return mapping.join(rep_hits, "rep_id").select(
            "doc_id", "source", "n_shared_shingles"
        )
    return _hits(corpus)


def c46_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'src0' plays the held-out benchmark; every other source is training
    corpus. Output: contaminated docs + how many of their distinct shingles
    appear in the benchmark."""
    docs = load_table(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("source") != "src0"), docs.filter(F.col("source") == "src0")
    )


def c56_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram (shingle) Jaccard >= 0.4 pairs — the word-order-
    sensitive n-gram variant of c17's token Jaccard: "a b c" and "c b a"
    share all tokens (token-J == 1) but no 3-gram. Same stats-adaptive
    pair engine (exact-copy collapse, prefix-filter/bitset plan, blocked
    by source); only the set elements change, via ``tokens=``. Shingle
    vocabularies are huge by construction, so this always takes the
    prefix-filter plan — rare shingles are even more selective than rare
    tokens, which is why shingle Jaccard is the standard near-dup
    similarity for web-crawl dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return token_jaccard_pairs(
        docs,
        threshold=0.4,
        block_col="source",
        tokens=F.expr(_SHINGLE_SET_EXPR),
    )


def c57_jaccard_pair_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale safety valve for the pair-list decls (c17/c56): the exact
    number of qualifying token-Jaccard pairs WITHOUT materializing the
    pair list. On copy-heavy corpora the count derives arithmetically
    from exact-copy group sizes plus representative-level pairs
    (``token_jaccard_pairs(output="count")``) — nothing quadratic runs,
    making this the bounded way to ask "how much near-duplication does
    this corpus contain" at 100 TB (where c17's list contract measured
    4.47B rows / 366 s at sf10)."""
    docs = load_table(spark, sf_dir, "documents")
    return token_jaccard_pairs(
        docs, threshold=0.5, block_col="source", output="count"
    )


def dup_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 5,
    hash_grams: bool = False,
) -> DataFrame:
    """Duplicated-span detection: the maximal runs of >= ``k`` consecutive
    tokens that appear verbatim in 2+ documents — the exact-substring
    formulation of training-data dedup (find repeated passages, then cut
    or down-weight them), as opposed to the whole-document near-dup
    operators (c17/c6/c27). Published corpus studies do this with a
    suffix array on one big machine; the distributed re-expression is
    pair-free and join-keyed:

    1. one linear pass builds every k-gram with its 1-based token
       position (JVM ``transform``/``sequence``/``slice`` — whole-stage
       codegen, no Python);
    2. grams seen in >= 2 distinct docs survive a partial-aggregating
       groupBy on the gram (keyed shuffle #1);
    3. a 1:N join marks the surviving positions (keyed shuffle #2 — the
       dup side is distinct grams, so no row blowup beyond the marks);
    4. per-doc island detection (lag-gap cumsum over one doc_id window,
       keyed shuffle #3) merges overlapping/touching grams — positions
       within ``k`` of each other — into maximal spans.

    Output per (doc, span): 1-based inclusive token bounds, token length,
    and the number of duplicated grams merged into it. Nothing quadratic:
    work is linear in total token count, and every shuffle is keyed.
    At 100 TB the gram strings dominate shuffle width — set
    ``hash_grams=True`` to shuffle 64-bit ``xxhash64`` keys instead
    (collision odds 2^-64 per the standard fingerprinting argument);
    results are identical on collision-free corpora
    (differential-tested)."""
    toks = (
        docs.filter(F.col(text_col).isNotNull())
        .select("doc_id", F.split(F.col(text_col), " ").alias("t"))
        .filter(F.size("t") >= k)
    )
    gram_expr = (
        f"transform(sequence(1, size(t) - {k - 1}), "
        f"i -> array_join(slice(t, i, {k}), ' '))"
    )
    from pyspark.sql.window import Window

    grams = toks.select(
        "doc_id", F.posexplode(F.expr(gram_expr)).alias("off", "gram")
    ).select(
        "doc_id", (F.col("off") + 1).cast("bigint").alias("pos"), "gram"
    )
    if hash_grams:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    # ``grams`` feeds BOTH the >=2-docs aggregate and the position-mark
    # join; Catalyst inlines each reference (no exchange to reuse — the
    # join side consumes grams unshuffled), so without a lineage cut the
    # k-gram explode executes twice. One materialization of the gram
    # relation beats a second corpus tokenization + slice pass.
    grams = grams.transform(lineage_cut)
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    marks = grams.join(dup, "gram").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) <= k, 0).otherwise(1)
    return (
        marks.withColumn("grp", F.sum(brk).over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_tokens"),
            "n_dup_grams",
        )
    )


def c62_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated 5-token spans across the documents corpus."""
    return dup_spans(load_table(spark, sf_dir, "documents"), k=5)


def cut_dup_spans(docs: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """The dedup ACTION for c62's findings: rewrite each document with its
    duplicated >=k-token spans removed — what a training pipeline actually
    does with repeated passages (cut them once the duplicate map is known).

    Plan: spans aggregate to one array per affected doc (keyed shuffle on
    doc_id), left-join back to the corpus (affected docs are typically a
    small fraction — AQE broadcasts when so), and the rewrite is a pure
    JVM higher-order expression (``filter``/``transform`` over the token
    array against the span list) — no Python, no explode, one row in/one
    row out. Docs with no duplicated span pass through with
    ``n_removed = 0``; NULL texts stay NULL."""
    spans = dup_spans(docs, text_col=text_col, k=k)
    agg = spans.groupBy("doc_id").agg(
        F.collect_list(F.array("span_start", "span_end")).alias("sp")
    )
    toks = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("t")
    )
    keep_expr = (
        "filter(sequence(1, size(t)), i -> size(filter("
        "coalesce(sp, cast(array() as array<array<bigint>>)), "
        "s -> i >= s[0] AND i <= s[1])) = 0)"
    )
    null_t = F.col("t").isNull()
    return (
        toks.join(agg, "doc_id", "left")
        .withColumn("keep", F.when(~null_t, F.expr(keep_expr)))
        .select(
            "doc_id",
            F.when(
                ~null_t,
                F.expr("array_join(transform(keep, i -> element_at(t, i)), ' ')"),
            ).alias("clean_text"),
            F.when(~null_t, F.size("t") - F.size("keep"))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def c63_cut_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents rewritten with their duplicated 5-token spans cut."""
    return cut_dup_spans(load_table(spark, sf_dir, "documents"), k=5)


def c47_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment from a content hash — the
    reproducible split a training pipeline needs (no RNG, no state: the
    same doc always lands in the same split, on any cluster layout). First
    hex nibble of md5(text): 12/16 train, 2/16 val, 2/16 test. Pure
    projection — embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    nib = F.substring(F.md5(F.col("text")), 1, 1)
    split = (
        F.when(nib.isin("c", "d"), "val")
        .when(nib.isin("e", "f"), "test")
        .otherwise("train")
    )
    return docs.select("doc_id", "source", split.alias("split"))


QUERIES = {
    "c1_dedup_exact": c1_dedup_exact,
    "c2_dedup_norm": c2_dedup_norm,
    "c6_minhash": c6_minhash,
    "c6_lsh_dup_pairs": c6_lsh_dup_pairs,
    "c17_jaccard_pairs": c17_jaccard_pairs,
    "c27_simhash": c27_simhash,
    "c28_simhash_pairs": c28_simhash_pairs,
    "c84_simhash_moments": c84_simhash_moments,
    "c85_minhash_moments": c85_minhash_moments,
    "c29_incremental_dedup": c29_incremental_dedup,
    "c33_minhash_jvm": c33_minhash_jvm,
    "c36_dedup_clusters": c36_dedup_clusters,
    "c43_keep_best_per_cluster": c43_keep_best_per_cluster,
    "c46_decontaminate": c46_decontaminate,
    "c47_hash_split": c47_hash_split,
    "c56_ngram_jaccard_pairs": c56_ngram_jaccard_pairs,
    "c57_jaccard_pair_count": c57_jaccard_pair_count,
    "c62_dup_spans": c62_dup_spans,
    "c63_cut_dup_spans": c63_cut_dup_spans,
}

# Copy-linear clustering CTE chain with IDENTICAL cluster output to the
# naive formulation (all-pairs token-Jaccard edges + label-propagation
# recursion over all docs; c17's pair-list oracle keeps the all-pairs form
# because the pair list IS its output).  Why identical: exact
# (source, text) copies are J == 1 pairs, so every doc's component is its
# representative's component, and a component's min doc_id equals its min
# rep (each rep is already its group's min doc_id).  The recursion
# therefore only needs the DISTINCT-text rep graph — both the edge join
# and the fixpoint iteration stay sf0.1-sized at every decade, where the
# naive form is quadratic in the copy ratio (unrunnable at sf1) and even
# a star-edge variant drags every copy through every recursion pass
# (measured 569 s at sf1 vs seconds for this form).  Ends with
# ``doc_cluster(doc_id, cluster)``; NULL-text docs are singleton clusters
# labelled by their own doc_id, exactly as isolated nodes were in the
# naive recursion.
_REP_CLUSTERS_SQL = """
        groups AS (
          -- source IS NOT NULL: the pair plans' block equi-join never
          -- matches NULL blocks, so NULL-source docs are singletons (the
          -- doc_cluster LEFT JOIN below already leaves them unmatched ->
          -- COALESCE to their own doc_id); grouping them here would
          -- invent intra pairs the operator never emits.
          SELECT source, text, MIN(doc_id) AS rep
          FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
          GROUP BY source, text
        ),
        toks AS (
          SELECT rep, source, unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM groups
        ),
        sizes AS (SELECT rep, COUNT(*) AS n_tok FROM toks GROUP BY rep),
        common AS (
          SELECT a.rep AS ra, b.rep AS rb, COUNT(*) AS n_common
          FROM toks a JOIN toks b
            ON a.tok = b.tok AND a.rep < b.rep AND a.source = b.source
          GROUP BY 1, 2
        ),
        rep_edges AS (
          SELECT ra, rb FROM common
          JOIN sizes sa ON ra = sa.rep JOIN sizes sb ON rb = sb.rep
          WHERE CAST(n_common AS DOUBLE)
                  / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) >= 0.5
        ),
        sym AS (
          SELECT ra AS a, rb AS b FROM rep_edges
          UNION
          SELECT rb, ra FROM rep_edges
        ),
        reach(id, label) AS (
          SELECT rep, rep FROM groups
          UNION
          SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.id
        ),
        rep_cluster AS (
          SELECT id AS rep, MIN(label) AS cluster FROM reach GROUP BY id
        ),
        doc_cluster AS (
          SELECT d.doc_id, COALESCE(rc.cluster, d.doc_id) AS cluster
          FROM documents d
          LEFT JOIN groups g ON d.source = g.source AND d.text = g.text
          LEFT JOIN rep_cluster rc ON g.rep = rc.rep
        )
"""

_DUP_SPANS_SQL = """
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE text IS NOT NULL
        ),
        grams AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 array_to_string(t[i:i+4], ' ') AS gram
          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 4)) AS i)
          WHERE len(t) >= 5
        ),
        dup AS (
          SELECT gram FROM grams GROUP BY gram
          HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        marks AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
        flagged AS (
          SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
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
               CAST(MAX(pos) + 4 AS BIGINT) AS span_end,
               CAST(MAX(pos) + 4 - MIN(pos) + 1 AS BIGINT) AS n_tokens,
               COUNT(*) AS n_dup_grams
        FROM grouped GROUP BY doc_id, grp
    """

def simhash_moments_oracle_sql(max_hamming: int, bits: int = 60) -> str:
    """Radius- and width-templated DuckDB twin of :func:`simhash_moments` —
    shared by the fixed c84 decl (radius 3, 60 bits) and the parameter
    fuzzer's drawer.  ``bits`` mirrors the ``simhash_moments`` parameter so
    a caller varying fingerprint width can't silently diverge from the
    oracle (ADVICE r10); the portable hash caps at 60 bits on both sides."""
    if bits > 60 or bits <= 0:
        raise ValueError(f"portable simhash oracle supports 1..60 bits, got {bits}")
    return f"""
        WITH groups AS (
          SELECT text, COUNT(*) AS sz
          FROM documents WHERE text IS NOT NULL
          GROUP BY text
        ),
        toks AS (
          SELECT text, unnest(string_split(text, ' ')) AS tok FROM groups
        ),
        th AS (
          SELECT text,
                 CAST(list_sum(list_transform(range(15), i ->
                   CAST(strpos('0123456789abcdef',
                               substr(md5(tok), CAST(i + 1 AS INT), 1)) - 1
                        AS BIGINT)
                   * (CAST(1 AS BIGINT) << CAST((14 - i) * 4 AS INT))))
                 AS BIGINT) AS h
          FROM toks
        ),
        votes AS (
          SELECT text, b,
                 SUM(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1
                          THEN 1 ELSE -1 END) AS v
          FROM th CROSS JOIN (SELECT unnest(range({bits})) AS b)
          GROUP BY text, b
        ),
        fp AS (
          SELECT text,
                 CAST(SUM(CASE WHEN v > 0
                               THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                               ELSE 0 END) AS BIGINT) AS f
          FROM votes GROUP BY text
        ),
        cross_pairs AS (
          SELECT bit_count(xor(a.f, b.f)) AS hamming,
                 CAST(ga.sz AS BIGINT) * gb.sz AS n
          FROM fp a JOIN fp b ON a.text < b.text
          JOIN groups ga ON ga.text = a.text
          JOIN groups gb ON gb.text = b.text
          WHERE bit_count(xor(a.f, b.f)) <= {max_hamming}
        ),
        intra AS (
          SELECT 0 AS hamming,
                 CAST(COALESCE(SUM(sz * (sz - 1) // 2), 0) AS BIGINT) AS n
          FROM groups
        ),
        counts AS (
          SELECT hamming, SUM(n) AS n
          FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM intra)
          GROUP BY hamming
        )
        SELECT CAST(s.hamming AS INT) AS hamming,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n_pairs
        FROM (SELECT unnest(range({max_hamming} + 1)) AS hamming) s
        LEFT JOIN counts c ON c.hamming = s.hamming
    """


def minhash_moments_oracle_sql(k: int = 16, n_bands: int = 4) -> str:
    """Parameter-templated DuckDB twin of :func:`minhash_moments` — the
    same md5-derived hash family (bit-identical, proven by c84), 3-gram
    shingles matching _SHINGLE_SET_EXPR, brute-force band compare over
    distinct-text reps (saturates ~5k at every decade), copy-group
    arithmetic for the all-bands bucket."""
    r = k // n_bands
    return f"""
        WITH groups AS (
          SELECT text, COUNT(*) AS sz
          FROM documents WHERE text IS NOT NULL
          GROUP BY text
        ),
        sh AS (
          SELECT text,
                 unnest(list_distinct(list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
                   i -> array_to_string(
                          list_slice(string_split(text, ' '),
                                     CAST(i AS INT), CAST(i + 2 AS INT)),
                          ' ')))) AS shingle
          FROM groups
        ),
        hi AS (
          SELECT text, i,
                 MIN(CAST(list_sum(list_transform(range(15), j ->
                   CAST(strpos('0123456789abcdef',
                               substr(md5(concat(i, ':', shingle)),
                                      CAST(j + 1 AS INT), 1)) - 1
                        AS BIGINT)
                   * (CAST(1 AS BIGINT) << CAST((14 - j) * 4 AS INT))))
                 AS BIGINT)) AS mh
          FROM sh CROSS JOIN (SELECT unnest(range({k})) AS i)
          GROUP BY text, i
        ),
        bands AS (
          SELECT text, i // {r} AS band,
                 string_agg(CAST(mh AS VARCHAR), '-' ORDER BY i) AS bkey
          FROM hi GROUP BY text, i // {r}
        ),
        rep_pairs AS (
          SELECT a.text AS ta, b.text AS tb, COUNT(*) AS n_shared_bands
          FROM bands a
          JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.text < b.text
          GROUP BY 1, 2
        ),
        cross_pairs AS (
          SELECT p.n_shared_bands, CAST(ga.sz AS BIGINT) * gb.sz AS n
          FROM rep_pairs p
          JOIN groups ga ON ga.text = p.ta
          JOIN groups gb ON gb.text = p.tb
        ),
        intra AS (
          SELECT {n_bands} AS n_shared_bands,
                 CAST(COALESCE(SUM(sz * (sz - 1) // 2), 0) AS BIGINT) AS n
          FROM groups
        ),
        counts AS (
          SELECT n_shared_bands, SUM(n) AS n
          FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM intra)
          GROUP BY n_shared_bands
        )
        SELECT CAST(s.n_shared_bands AS INT) AS n_shared_bands,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n_pairs
        FROM (SELECT unnest(range(1, {n_bands} + 1)) AS n_shared_bands) s
        LEFT JOIN counts c ON c.n_shared_bands = s.n_shared_bands
    """


ORACLE = {
    "c1_dedup_exact": """
        SELECT MIN(doc_id) AS doc_id, text, COUNT(*) AS n_copies
        FROM documents GROUP BY text
    """,
    "c2_dedup_norm": """
        SELECT MIN(doc_id) AS doc_id,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                   ' +', ' ', 'g')) AS norm_text,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY 2
    """,
    # c6_minhash / c6_lsh_dup_pairs: custom hash pipeline, rows-only check.
    "c43_keep_best_per_cluster": f"""
        WITH RECURSIVE {_REP_CLUSTERS_SQL},
        clusters AS (
          SELECT doc_id, cluster FROM doc_cluster
        ),
        scored AS (
          SELECT doc_id,
                 ROUND(
                   (CAST(len(list_filter(string_split(text, ' '),
                      t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                 'for','on','with','as','at','by','be','this','that','are')))
                      AS DOUBLE)
                    / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5
                   + (1.0 / (1.0 + ABS(CAST(n_chars AS DOUBLE)
                        / CAST(len(string_split(text, ' ')) AS DOUBLE) - 5.0))) * 0.5,
                   9) AS q
          FROM documents
        ),
        member AS (
          SELECT c.cluster, c.doc_id, s.q FROM clusters c JOIN scored s USING (doc_id)
        ),
        ranked AS (
          SELECT cluster, doc_id, q,
                 COUNT(*) OVER (PARTITION BY cluster) AS n_members,
                 ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY q DESC, doc_id) AS rn
          FROM member
        )
        SELECT cluster, doc_id AS kept_doc_id, ROUND(q, 6) AS kept_quality, n_members
        FROM ranked WHERE rn = 1
    """,
    "c36_dedup_clusters": f"""
        WITH RECURSIVE {_REP_CLUSTERS_SQL}
        SELECT doc_id, cluster FROM doc_cluster
    """,
    "c29_incremental_dedup": """
        WITH normed AS (
          SELECT doc_id, source, lang,
                 trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                      ' +', ' ', 'g')) AS k
          FROM documents
        )
        SELECT doc_id, source, lang FROM normed n
        WHERE source = 'src0'
          AND NOT EXISTS (
            SELECT 1 FROM normed c WHERE c.source <> 'src0' AND c.k = n.k
          )
    """,
    "c17_jaccard_pairs": """
        WITH toks AS (
          SELECT doc_id, source, unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_common
          FROM toks a JOIN toks b
            ON a.tok = b.tok AND a.doc_id < b.doc_id AND a.source = b.source
          GROUP BY 1, 2
        )
        SELECT doc_id_a, doc_id_b,
               CAST(n_common AS DOUBLE)
                 / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) AS jaccard
        FROM common
        JOIN sizes sa ON doc_id_a = sa.doc_id
        JOIN sizes sb ON doc_id_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE)
                 / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) >= 0.5
    """,
    "c46_decontaminate": """
        WITH sh_of AS (
          SELECT doc_id, source,
                 list_distinct(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
                   i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS shs
          FROM documents
        ),
        test AS (
          SELECT DISTINCT unnest(shs) AS sh FROM sh_of WHERE source = 'src0'
        ),
        corp AS (
          SELECT doc_id, source, unnest(shs) AS sh FROM sh_of WHERE source <> 'src0'
        )
        SELECT doc_id, source, COUNT(*) AS n_shared_shingles
        FROM corp JOIN test USING (sh)
        GROUP BY doc_id, source
    """,
    "c56_ngram_jaccard_pairs": """
        WITH sh AS (
          SELECT doc_id, source,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
                   i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS tok
          FROM documents
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM sh GROUP BY doc_id),
        common AS (
          SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_common
          FROM sh a JOIN sh b
            ON a.tok = b.tok AND a.doc_id < b.doc_id AND a.source = b.source
          GROUP BY 1, 2
        )
        SELECT doc_id_a, doc_id_b,
               CAST(n_common AS DOUBLE)
                 / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) AS jaccard
        FROM common
        JOIN sizes sa ON doc_id_a = sa.doc_id
        JOIN sizes sb ON doc_id_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE)
                 / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) >= 0.4
    """,
    "c47_hash_split": """
        SELECT doc_id, source,
               CASE WHEN substring(md5(text), 1, 1) IN ('c', 'd') THEN 'val'
                    WHEN substring(md5(text), 1, 1) IN ('e', 'f') THEN 'test'
                    ELSE 'train' END AS split
        FROM documents
    """,
    # Copy-linear formulation (identical result to COUNT(*) over the naive
    # all-pairs edge list — cross-checked equal at sf0.01/sf0.1/sf1):
    # identical (source, text) docs are J == 1 pairs by definition, so the
    # count decomposes into sz*(sz-1)/2 intra pairs per exact-copy group
    # plus size-weighted pairs over DISTINCT texts only.  The naive
    # edge-count oracle is quadratic in the copy ratio and stops being
    # runnable at sf1 (copy-ratio 10); this one stays sf0.1-sized at any
    # decade because distinct texts don't grow with copies.
    "c57_jaccard_pair_count": """
        WITH groups AS (
          -- source IS NOT NULL matches the operator: the block equi-join
          -- never pairs NULL sources, so those docs contribute no pairs.
          SELECT source, text, MIN(doc_id) AS rep, COUNT(*) AS sz
          FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
          GROUP BY source, text
        ),
        intra AS (SELECT COALESCE(SUM(sz * (sz - 1) / 2), 0) AS n FROM groups),
        toks AS (
          SELECT rep, source, unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM groups
        ),
        sizes AS (SELECT rep, COUNT(*) AS n_tok FROM toks GROUP BY rep),
        common AS (
          SELECT a.rep AS ra, b.rep AS rb, COUNT(*) AS n_common
          FROM toks a JOIN toks b
            ON a.tok = b.tok AND a.rep < b.rep AND a.source = b.source
          GROUP BY 1, 2
        ),
        rep_pairs AS (
          SELECT ra, rb FROM common
          JOIN sizes sa ON ra = sa.rep JOIN sizes sb ON rb = sb.rep
          WHERE CAST(n_common AS DOUBLE)
                  / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) >= 0.5
        ),
        cross_n AS (
          SELECT COALESCE(SUM(ga.sz * gb.sz), 0) AS n
          FROM rep_pairs JOIN groups ga ON ra = ga.rep JOIN groups gb ON rb = gb.rep
        )
        SELECT CAST((SELECT n FROM intra) + (SELECT n FROM cross_n) AS BIGINT)
               AS n_pairs
    """,
    # c84: the oracle mirrors the portable 60-bit md5 simhash exactly —
    # hex-parse md5's first 15 chars with integer shift arithmetic (no
    # double powers: 16**i is lossy past 2^53), per-bit majority vote,
    # fingerprint reassembled as BIGINT (CAST dodges HUGEINT, which the
    # comparator rejects by guard), then brute-force rep pairs + copy-
    # group arithmetic. Brute force is fine HERE (oracle runs at sf0.01,
    # ~500 distinct texts; distinct texts saturate ~5k at every decade);
    # the Spark side stays banded for scale.
    "c84_simhash_moments": simhash_moments_oracle_sql(3),
    "c85_minhash_moments": minhash_moments_oracle_sql(16, 4),
    "c62_dup_spans": _DUP_SPANS_SQL,
    "c63_cut_dup_spans": f"""
        WITH spans AS ({_DUP_SPANS_SQL}),
        agg AS (
          SELECT doc_id, list([span_start, span_end]) AS sp
          FROM spans GROUP BY doc_id
        ),
        dtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        keepx AS (
          SELECT d.doc_id, t,
                 CASE WHEN t IS NULL THEN NULL ELSE
                   list_filter(range(1, len(t) + 1),
                     i -> len(list_filter(COALESCE(a.sp, []),
                                          s -> i >= s[1] AND i <= s[2])) = 0)
                 END AS keep
          FROM dtoks d LEFT JOIN agg a USING (doc_id)
        )
        SELECT doc_id,
               CASE WHEN t IS NULL THEN NULL ELSE
                 COALESCE(array_to_string(list_transform(keep, i -> t[i]), ' '), '')
               END AS clean_text,
               CAST(len(t) - len(keep) AS BIGINT) AS n_removed
        FROM keepx
    """,
}

