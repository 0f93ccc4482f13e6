"""Unit tests on inline micro-fixtures (SURVEY.md §5.2 / FIXTURES.md §4):
empty input, all-null keys, duplicate keys, skewed keys, regex
metacharacters, exact-gap-boundary sessions."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_engineering_zoomcamp_my_test_spark.functions.text import normalized_text
from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    token_jaccard_pairs,
)
from data_engineering_zoomcamp_my_test_spark.operators.events import sessionize
from data_engineering_zoomcamp_my_test_spark.operators.similarity import (
    brute_force_topk,
)


def test_exact_dedup_duplicate_keys(spark):
    df = spark.createDataFrame(
        [(1, "aaa", "s1"), (2, "aaa", "s2"), (3, "bbb", "s3"), (4, "aaa", "s4")],
        "doc_id long, text string, source string",
    )
    out = {r.text: r for r in exact_dedup(df, ["text"], "doc_id").collect()}
    assert out["aaa"].doc_id == 1 and out["aaa"].n_copies == 3
    assert out["aaa"].source == "s1"  # representative fields follow min id
    assert out["bbb"].doc_id == 3 and out["bbb"].n_copies == 1


def test_exact_dedup_empty_input(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    assert exact_dedup(df, ["text"], "doc_id").count() == 0


def test_dedup_null_keys_group_together(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, text string"
    )
    out = {r.doc_id: r.n_copies for r in exact_dedup(df, ["text"], "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_normalized_text_strips_punct_case_space(spark):
    df = spark.createDataFrame(
        [("Hello,   WORLD!!",), ("hello world",)], "text string"
    )
    vals = [r[0] for r in df.select(normalized_text("text")).collect()]
    assert vals[0] == vals[1] == "hello world"


def test_lsh_finds_identical_docs_and_skips_disjoint(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.doc_id_a, r.doc_id_b) for r in lsh_candidate_pairs(df).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_token_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x"), (3, "p q r s")],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in token_jaccard_pairs(df, threshold=0.0).collect()
    }
    assert abs(rows[(1, 2)] - 3 / 5) < 1e-12
    assert (1, 3) not in rows  # no shared tokens -> never a candidate


def test_sessionize_gap_boundary(spark):
    """Events exactly at the gap boundary stay in-session (> gap, not >=)."""
    base = "2024-01-01 00:00:00"
    df = spark.createDataFrame(
        [
            (1, base, 10),
            (2, "2024-01-01 00:30:00", 10),   # exactly 30 min -> same session
            (3, "2024-01-01 01:00:01", 10),   # 30m01s -> new session
            (4, base, 20),                     # other user independent
        ],
        "event_id long, ts_s string, user_id long",
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        F.lit(1.0).alias("value"),
    )
    out = sessionize(df, gap_minutes=30)
    per_user = {
        (r.user_id, r.session_seq): r.n_events for r in out.collect()
    }
    assert per_user[(10, 1)] == 2
    assert per_user[(10, 2)] == 1
    assert per_user[(20, 1)] == 1


def test_brute_force_topk_self_excluded_and_ranked(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),     # identical -> sim 1.0, rank 1
            (3, [0.9, 0.1]),
            (4, [-1.0, 0.0]),    # opposite -> sim -1.0, last
        ],
        "vec_id long, embedding array<float>",
    )
    out = brute_force_topk(df, df.filter("vec_id = 1"), k=3).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [2, 3, 4]
    assert all(r.neighbor_id != 1 for r in out)


def test_embed_neardup_router(spark, sf_small):
    """embed_neardup routes: near-dup thresholds -> LSH-blocked (c48, the
    scale default); explicit block_col -> exact block join (c18's shape);
    low threshold without a block refuses rather than going quadratic."""
    import pytest

    from data_engineering_zoomcamp_my_test_spark.operators.similarity import (
        embed_neardup,
    )

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    with pytest.raises(ValueError, match="block_col"):
        embed_neardup(emb, threshold=0.35)
    exact = embed_neardup(emb, threshold=0.35, block_col="label")
    assert exact.columns == ["vec_id_a", "vec_id_b", "cosine_sim"]
    assert exact.count() > 0
    lsh = embed_neardup(emb, threshold=0.9)
    assert lsh.columns == ["vec_id_a", "vec_id_b", "cosine_sim"]
    assert lsh.count() == 0  # corpus max off-diag cosine ~0.51: empty is correct


def test_connected_components_known_graph(spark):
    """Chain 1-2-3, triangle 10-11-12 (+edge), singleton 99."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        connected_components,
    )

    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 12, 99)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12)],
        "doc_id_a long, doc_id_b long",
    )
    out = {r.doc_id: r.cluster for r in connected_components(ids, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_connected_components_string_ids(spark):
    """String ids cluster by Spark's string order: the driver union-find
    compares Python strings, whose code-point order is Spark's UTF-8 byte
    order."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        connected_components,
    )

    ids = spark.createDataFrame([("a",), ("b",), ("c",)], "doc_id string")
    edges = spark.createDataFrame([("a", "b")], "doc_id_a string, doc_id_b string")
    out = {r.doc_id: r.cluster for r in connected_components(ids, edges).collect()}
    assert out == {"a": "a", "b": "a", "c": "c"}


def test_connected_components_star_known_graph(spark):
    """Star algorithm on the same chain/triangle/singleton fixture as the
    driver test — identical output contract."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        connected_components_star,
    )

    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 12, 99)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12)],
        "doc_id_a long, doc_id_b long",
    )
    out = {r.doc_id: r.cluster for r in connected_components_star(ids, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_long_chain_star_rounds_and_driver_labels(spark):
    """The point of large-star/small-star: a 64-hop chain converges in
    O(log n) rounds (within 12), where min-label propagation would need one
    round per hop. The driver union-find has no rounds at all and labels
    the same chain in one pass."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 64
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_id_a long, doc_id_b long"
    )
    out = {
        r.doc_id: r.cluster
        for r in connected_components_star(ids, edges, max_iter=12).collect()
    }
    assert set(out.values()) == {0} and len(out) == n
    out = {r.doc_id: r.cluster for r in connected_components(ids, edges).collect()}
    assert set(out.values()) == {0} and len(out) == n


def _known_graph(spark):
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 12, 99)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12)],
        "doc_id_a long, doc_id_b long",
    )
    return ids, edges


def test_connected_components_star_fallback_above_edge_bound(spark, monkeypatch):
    """An edge list longer than the driver bound runs the star rounds and
    gives the same labels."""
    from data_engineering_zoomcamp_my_test_spark.operators import dedup

    calls = []
    star = dedup.connected_components_star

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return star(*args, **kwargs)

    monkeypatch.setattr(dedup, "_CC_DRIVER_EDGES", 2)
    monkeypatch.setattr(dedup, "connected_components_star", spy)
    ids, edges = _known_graph(spark)
    out = {r.doc_id: r.cluster for r in dedup.connected_components(ids, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 99: 99}
    assert calls == [{"max_iter": 25}]


def test_connected_components_messy_edges_match_star(spark):
    """Duplicate and reversed edges, self-loops, NULL endpoints and edge
    endpoints missing from ``ids`` give star's labels: one row per id, NULL
    edges ignored, a self-loop alone leaves a singleton."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 7, 7)], "doc_id long")
    edges = spark.createDataFrame(
        [(2, 1), (1, 2), (1, 2), (4, 4), (3, None), (None, 5), (None, None),
         (5, 6), (6, 3)],
        "doc_id_a long, doc_id_b long",
    )
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    got = key(connected_components(ids, edges))
    assert got == key(connected_components_star(ids, edges))
    assert got == [(1, 1), (2, 1), (3, 3), (4, 4), (5, 3), (7, 7), (7, 7)]


def test_connected_components_build_runs_one_job(spark):
    """Below the edge bound the whole solve is one collect of the edge
    list: building the result runs exactly one Spark job (measured), with
    no per-round cut, broadcast or convergence probe."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        connected_components,
    )
    from tests.test_robustness import _group_jobs

    ids, edges = _known_graph(spark)
    out, jobs = _group_jobs(spark, "cc_build", lambda: connected_components(ids, edges))
    assert len(jobs) == 1
    assert {r.doc_id: r.cluster for r in out.collect()} == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 99: 99,
    }


def test_connected_components_build_jobs_on_pair_plan(spark, sf_small):
    """The same solve fed a real ``token_jaccard_pairs`` plan, as c36 feeds
    it: under AQE the edge collect runs the pair plan's shuffle stage and
    its result stage as separate jobs, so the build is 2 jobs (measured),
    not the 1 a local edge list costs."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        connected_components,
        token_jaccard_pairs,
    )
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table
    from tests.test_robustness import _group_jobs

    docs = load_table(spark, sf_small, "documents")
    pairs = token_jaccard_pairs(
        docs, threshold=0.5, block_col="source", collapse_exact=False
    )
    _, jobs = _group_jobs(
        spark, "cc_pair_build", lambda: connected_components(docs.select("doc_id"), pairs)
    )
    assert len(jobs) == 2, jobs


def test_connected_components_long_chain_converges(spark):
    """A 12-node chain: every node takes the chain's minimum, however many
    hops away it is."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        connected_components,
    )

    n = 12
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_id_a long, doc_id_b long"
    )
    out = {r.doc_id: r.cluster for r in connected_components(ids, edges, max_iter=20).collect()}
    assert set(out.values()) == {0}


def test_skewed_group_key(spark):
    """90% of rows share one key — partial aggregation + AQE must still
    produce exact counts."""
    rows = [(i, "hot" if i % 10 else "cold") for i in range(10_000)]
    df = spark.createDataFrame(rows, "id long, k string").repartition(16)
    out = {r.k: r.n for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert out == {"hot": 9000, "cold": 1000}


def test_simhash_band_pigeonhole_recall(spark):
    """A pair within max_hamming bits must ALWAYS be found (pigeonhole:
    n_bands > max_hamming). Constructed worst case: 7 differing bits spread
    across 7 different 8-bit bands — a 4-band scheme would miss it."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        _simhash_band_pairs,
    )

    # doc 2 differs from doc 1 in bits 0,8,16,24,32,40,48 (7 bands touched)
    x = 0
    y = sum(1 << (8 * i) for i in range(7))
    # doc 3 differs from doc 1 in 11 bits -> must be filtered (> max_hamming)
    z = (1 << 11) - 1
    sh = spark.createDataFrame(
        [(1, x), (2, y), (3, z)], "doc_id long, simhash long"
    )
    rows = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in _simhash_band_pairs(sh, max_hamming=10, n_bands=16).collect()
    }
    assert rows[(1, 2)] == 7
    assert (1, 3) not in rows  # hamming 11 > 10
    assert (2, 3) not in rows  # hamming 14 > 10


def test_simhash_near_pairs_rejects_bad_bands(spark):
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        simhash_near_pairs,
    )
    import pytest as _pytest

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        simhash_near_pairs(docs, max_hamming=10, n_bands=4)


def test_simhash_portable_hash_pinned(spark):
    """The portable (md5-derived, engine-shared) token hash is pinned to
    its known value: a one-token doc's fingerprint IS the token hash
    (every set bit votes +1 -> 1, every clear bit votes -1 -> 0), and
    md5('hello')[0:15] base-16 = 419982666956583591 in both engines."""
    import pytest as _pytest

    from data_engineering_zoomcamp_my_test_spark.operators.dedup import simhash

    docs = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    row = simhash(docs, bits=60, portable=True).head()
    assert row["simhash"] == 419982666956583591
    with _pytest.raises(ValueError):
        simhash(docs, bits=64, portable=True)


def test_simhash_moments_matches_bruteforce(spark):
    """simhash_moments (copy-collapse + banded pairs + arithmetic
    expansion) must equal the brute-force answer derived from the raw
    portable fingerprints and copy multiplicities."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        simhash,
        simhash_moments,
    )

    texts = {
        "A": "the quick brown fox jumps over the lazy dog",
        "B": "the quick brown fox jumps over the lazy cat",
        "C": "entirely different content with no shared tokens here",
    }
    copies = {"A": 3, "B": 2, "C": 1}
    rows, did = [], 0
    for k, n in copies.items():
        for _ in range(n):
            rows.append((did, texts[k]))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    reps = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts.values())], "doc_id long, text string"
    )
    fp = {r["doc_id"]: r["simhash"] for r in simhash(reps, bits=60, portable=True).collect()}
    sizes = list(copies.values())
    expected = {h: 0 for h in range(4)}
    for k, n in enumerate(sizes):  # intra copy-group pairs: distance 0
        expected[0] += n * (n - 1) // 2
    for a in range(len(sizes)):
        for b in range(a + 1, len(sizes)):
            d = bin(fp[a] ^ fp[b]).count("1")
            if d <= 3:
                expected[d] += sizes[a] * sizes[b]
    got = {r["hamming"]: r["n_pairs"] for r in simhash_moments(docs).collect()}
    assert got == expected
    assert expected[0] >= 4  # the copy-arithmetic path actually fired

    # same pigeonhole contract as simhash_near_pairs: a band count that
    # can't guarantee recall must raise, not silently undercount
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash_moments(docs, max_hamming=5, n_bands=4)


def test_minhash_moments_matches_pure_python_reference(spark):
    """minhash_moments against a from-scratch hashlib reference: shingles,
    the k md5-derived hashes, per-slot minima, band keys, pair collision
    counts, and copy-group weighting recomputed in pure Python with no
    Spark or DuckDB involvement."""
    import hashlib

    import pytest as _pytest

    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        minhash_moments,
    )

    texts = {
        "A": "the quick brown fox jumps over the lazy dog today",
        "B": "the quick brown fox jumps over the lazy cat today",
        "C": "entirely different words with no shared trigrams at all",
    }
    copies = {"A": 3, "B": 1, "C": 2}
    rows, did = [], 0
    for kname, n in copies.items():
        for _ in range(n):
            rows.append((did, texts[kname]))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    K, NB, R = 16, 4, 4

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def shingles(t: str) -> set:
        toks = t.split(" ")
        n = max(len(toks) - 2, 1)
        return {" ".join(toks[i : i + 3]) for i in range(n)}

    def signature(t: str) -> list:
        sset = shingles(t)
        return [min(h60(f"{i}:{s}") for s in sset) for i in range(K)]

    sigs = {kname: signature(t) for kname, t in texts.items()}
    names = list(texts)
    expected = {b: 0 for b in range(1, NB + 1)}
    for kname, n in copies.items():  # copies share every band
        expected[NB] += n * (n - 1) // 2
    for x in range(len(names)):
        for y in range(x + 1, len(names)):
            shared = sum(
                sigs[names[x]][b * R : (b + 1) * R] == sigs[names[y]][b * R : (b + 1) * R]
                for b in range(NB)
            )
            if shared:
                expected[shared] += copies[names[x]] * copies[names[y]]
    got = {
        r["n_shared_bands"]: r["n_pairs"] for r in minhash_moments(docs).collect()
    }
    assert got == expected
    assert expected[NB] >= 3  # copy arithmetic actually fired
    # A and B differ by one word: most shingles (and so most minima)
    # agree, so at least one band must collide cross-text
    assert sum(v for b, v in expected.items()) > expected[NB] or expected[NB] > 4

    with _pytest.raises(ValueError):
        minhash_moments(docs, k=16, n_bands=5)


def test_from_json_validity_detects_malformed(spark):
    """c51's validity flag must be False for syntactically broken JSON (a
    bare isNotNull() on the PERMISSIVE struct would miss it)."""
    from pyspark.sql import functions as F

    parsed = F.from_json(
        "props", "k bigint, _corrupt string",
        {"columnNameOfCorruptRecord": "_corrupt"},
    )
    df = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, "{bad"), (3, ""), (4, None)],
        "event_id long, props string",
    ).select(
        "event_id",
        parsed.getField("k").alias("k_val"),
        (parsed.isNotNull() & parsed.getField("_corrupt").isNull()).alias("valid"),
    )
    got = {r.event_id: (r.k_val, r.valid) for r in df.collect()}
    assert got[1] == (5, True)
    assert got[2][1] is False
    assert got[3][1] is False
    assert got[4][1] is False


def test_collapse_exact_pairs_differential(spark):
    """The stats-probed exact-copy collapse must be invisible in results:
    a copy-heavy corpus (which triggers the probe) produces exactly the
    pairs the plain plan produces, including J == 1 intra-copy pairs."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
    )

    base = [(i, f"s{i % 2}", t) for i, t in enumerate(
        ["a b c d", "a b c x", "p q r s", "a b c d", "m n o p"] * 4
    )]
    docs = spark.createDataFrame(base, "doc_id long, source string, text string")

    plain = token_jaccard_pairs(
        docs, threshold=0.5, block_col="source", collapse_exact=False
    )
    fast = token_jaccard_pairs(docs, threshold=0.5, block_col="source")
    key = lambda r: (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))  # noqa: E731
    assert sorted(map(key, fast.collect())) == sorted(map(key, plain.collect()))

    # cluster labels must match the no-collapse CC result too
    expected = {
        (r.doc_id, r.cluster)
        for r in connected_components(docs.select("doc_id"), plain).collect()
    }
    got = {
        (r.doc_id, r.cluster)
        for r in dedup_clusters(docs, threshold=0.5, block_col="source").collect()
    }
    assert got == expected


def test_collapse_null_text_rows_differential(spark):
    """Collapse must stay result-invisible on corpora with NULL texts:
    the non-collapsed plans drop NULL-text rows (null tokens never join),
    so the collapse must NOT group the NULLs and invent J == 1 intra
    pairs for them (ADVICE r4). Copy-heavy so the stats probe fires."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        lsh_candidate_pairs,
        simhash_near_pairs,
    )

    texts = ["the quick brown fox jumps over a lazy dog today",
             "the quick brown fox jumps over a lazy cat today",
             "", None, None] * 4  # empty strings group in BOTH plans
    docs = spark.createDataFrame(
        [(i, f"s{i % 2}", t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string",
    )

    key = lambda r: (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))  # noqa: E731
    plain = sorted(map(key, token_jaccard_pairs(
        docs, threshold=0.5, block_col="source", collapse_exact=False
    ).collect()))
    fast = sorted(map(key, token_jaccard_pairs(
        docs, threshold=0.5, block_col="source"
    ).collect()))
    assert fast == plain and len(fast) > 0
    null_ids = {i for i, t in enumerate(texts) if t is None}
    assert all(
        a not in null_ids and b not in null_ids for a, b, _ in fast
    )

    pairs_plain = {
        (r.doc_id_a, r.doc_id_b)
        for r in lsh_candidate_pairs(docs, collapse_exact=False).collect()
    }
    pairs_fast = {
        (r.doc_id_a, r.doc_id_b) for r in lsh_candidate_pairs(docs).collect()
    }
    assert pairs_fast == pairs_plain

    sh_key = lambda r: (r.doc_id_a, r.doc_id_b, r.hamming)  # noqa: E731
    sh_plain = sorted(
        map(sh_key, simhash_near_pairs(docs, collapse_exact=False).collect())
    )
    sh_fast = sorted(map(sh_key, simhash_near_pairs(docs).collect()))
    assert sh_fast == sh_plain


def test_collapse_null_block_rows_differential(spark):
    """Block twin of the NULL-text test (ADVICE r6): the pair plans'
    block equi-join ``a.source = b.source`` never matches NULL sources,
    so NULL-block rows pair with NOTHING — the collapse must treat them
    as singletons rather than grouping them into one shared NULL block
    and inventing J == 1 intra pairs. Copy-heavy so the probe fires,
    with several identical texts under a NULL source."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        dedup_clusters,
    )

    texts = ["the quick brown fox jumps over a lazy dog today",
             "the quick brown fox jumps over a lazy cat today"] * 6
    rows = [(i, "s0" if i % 3 else None, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    null_ids = {i for i, s, _ in rows if s is None}

    key = lambda r: (r.doc_id_a, r.doc_id_b, round(r.jaccard, 9))  # noqa: E731
    plain = sorted(map(key, token_jaccard_pairs(
        docs, threshold=0.5, block_col="source", collapse_exact=False
    ).collect()))
    fast = sorted(map(key, token_jaccard_pairs(
        docs, threshold=0.5, block_col="source"
    ).collect()))
    assert fast == plain and len(fast) > 0
    assert all(a not in null_ids and b not in null_ids for a, b, _ in fast)

    # arithmetic count form must agree with the materialized list
    n_count = token_jaccard_pairs(
        docs, threshold=0.5, block_col="source", output="count"
    ).collect()[0][0]
    assert n_count == len(fast)

    # cluster labels: NULL-source docs are singleton clusters
    clusters = {
        r.doc_id: r.cluster
        for r in dedup_clusters(docs, block_col="source").collect()
    }
    for i in null_ids:
        assert clusters[i] == i


def test_collapse_zero_and_null_vector_differential(spark):
    """Vector twin of the NULL-text and NULL-block tests: NULL and
    zero-norm embeddings are unpairable by contract (cosine undefined;
    ANSI mode would raise DIVIDE_BY_ZERO), and identical vectors under a
    NULL block never meet in the block equi-join — all must appear in NO
    pair, under BOTH plans. The collapse must not invent cos == 1 intra
    pairs for them (ADVICE r4, r6), and the plain plan must not crash on
    the zero division."""
    from data_engineering_zoomcamp_my_test_spark.operators.similarity import (
        embed_neardup,
    )

    def corpus(n_copies):
        rows = []
        vid = 0
        for i in range(n_copies):  # exact copies: trigger/skip the probe
            rows.append((vid, "b0", [1.0, 2.0, 3.0, 4.0])); vid += 1
        for i in range(4):  # distinct fillers
            rows.append((vid, "b0", [0.1 * i + 1, 2.0, 3.0, 4.0])); vid += 1
        zero_null = []
        for _ in range(3):  # identical zero-norm and NULL embeddings
            rows.append((vid, "b0", [0.0, 0.0, 0.0, 0.0]))
            zero_null.append(vid); vid += 1
            rows.append((vid, "b0", None))
            zero_null.append(vid); vid += 1
        for _ in range(4):  # identical copies under a NULL block
            rows.append((vid, None, [1.0, 2.0, 3.0, 4.0]))
            zero_null.append(vid); vid += 1
        copies = list(range(n_copies))
        return (
            spark.createDataFrame(
                rows, "vec_id long, block string, embedding array<double>"
            ),
            copies,
            set(zero_null),
        )

    # copy-heavy (probe fires -> collapse plan) and copy-free (plain plan)
    for n_copies in (8, 1):
        emb, copies, bad_ids = corpus(n_copies)
        got = {
            (r.vec_id_a, r.vec_id_b, round(r.cosine_sim, 6))
            for r in embed_neardup(
                emb, threshold=0.9, block_col="block"
            ).collect()
        }
        assert all(
            a not in bad_ids and b not in bad_ids for a, b, _ in got
        ), f"unpairable rows leaked into pairs (n_copies={n_copies})"
        expected_intra = {
            (a, b, 1.0) for a in copies for b in copies if a < b
        }
        assert expected_intra <= got, f"missing copy pairs (n_copies={n_copies})"


def test_lsh_candidate_pairs_collapse_differential(spark):
    """Exact-copy collapse in the banded-LSH candidate generator must be
    result-invisible on a copy-heavy corpus."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    texts = ["the quick brown fox jumps over a lazy dog today",
             "the quick brown fox jumps over a lazy cat today",
             "completely different set of words entirely here now"] * 5
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    plain = {
        (r.doc_id_a, r.doc_id_b)
        for r in lsh_candidate_pairs(docs, collapse_exact=False).collect()
    }
    fast = {
        (r.doc_id_a, r.doc_id_b) for r in lsh_candidate_pairs(docs).collect()
    }
    assert fast == plain and len(fast) > 0


def test_simhash_pairs_collapse_differential(spark):
    """Fingerprint-level exact-copy collapse in SimHash banding must be
    result-invisible, including the hamming values."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        simhash_near_pairs,
    )

    texts = ["the quick brown fox jumps over a lazy dog today",
             "the quick brown fox jumps over a lazy dog tonight",
             "completely different set of words entirely here now"] * 5
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    key = lambda r: (r.doc_id_a, r.doc_id_b, r.hamming)  # noqa: E731
    plain = sorted(
        map(key, simhash_near_pairs(docs, collapse_exact=False).collect())
    )
    fast = sorted(map(key, simhash_near_pairs(docs).collect()))
    assert fast == plain and len(fast) > 0


def test_pair_list_safety_valve_copy_ratio_100(spark):
    """VERDICT r4 #3: the pair-list contract is O(copies^2); the valve
    modes must stay bounded/linear at copy-ratio 100 and agree with the
    materialized list where it is still materializable."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        token_jaccard_pairs,
    )

    # 3 distinct texts x 100 exact copies; texts 0/1 are near-dups (J=0.6)
    texts = ["a b c d e", "a b c d x", "p q r s t"]
    docs = spark.createDataFrame(
        [(i, texts[i % 3]) for i in range(300)], "doc_id long, text string"
    )

    pairs = token_jaccard_pairs(docs, threshold=0.5).collect()
    # intra: 3 * C(100,2); cross: the near-dup group pair = 100*100
    expected_n = 3 * (100 * 99 // 2) + 100 * 100
    assert len(pairs) == expected_n

    # count mode: exact, computed arithmetically (no quadratic expansion)
    [row] = token_jaccard_pairs(docs, threshold=0.5, output="count").collect()
    assert row.n_pairs == expected_n

    # max_pairs: bounded output, rows still shaped like pairs
    capped = token_jaccard_pairs(docs, threshold=0.5, max_pairs=500).collect()
    assert len(capped) == 500
    assert {(r.doc_id_a < r.doc_id_b) for r in capped} == {True}

    # clusters: linear handle — one row per doc, 2 components
    clusters = token_jaccard_pairs(docs, threshold=0.5, output="clusters")
    labels = {r.doc_id: r.cluster for r in clusters.collect()}
    assert len(labels) == 300
    assert len(set(labels.values())) == 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="pairs|count|clusters"):
        token_jaccard_pairs(docs, output="all_of_them")


# --- text corpus-export ops (c58/c59/c60) ---


def test_repetition_stats_known_values(spark):
    from data_engineering_zoomcamp_my_test_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # 1 distinct / 4, top frac 1.0, grams "a a a" x2 all dup
            (2, "a b c d"),          # all distinct, no dup grams
            (3, "x y"),              # < 3 tokens: no grams -> dup frac 0.0
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 4 and r1["distinct_ratio"] == 0.25
    assert r1["top_word_frac"] == 1.0 and r1["dup_3gram_frac"] == 1.0
    assert r1["keep"] is False
    r2 = rows[2]
    assert r2["distinct_ratio"] == 1.0 and r2["dup_3gram_frac"] == 0.0
    assert r2["top_word_frac"] == 0.25 and r2["keep"] is True
    r3 = rows[3]
    assert r3["n_tokens"] == 2 and r3["dup_3gram_frac"] == 0.0


def test_shard_assign_deterministic_balanced_contiguous(spark):
    from data_engineering_zoomcamp_my_test_spark.operators.text import shard_assign

    docs = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = shard_assign(docs, n_shards=8).collect()
    again = shard_assign(docs.repartition(13), n_shards=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))  # layout-invariant
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard_id"], []).append(r["shard_pos"])
    assert set(by_shard) == set(range(8))
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) - min(sizes) < 1000 // 8  # multiplicative hash spreads
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))  # dense 0..n-1 per shard


def test_mixture_weights_sum_and_upsample_direction(spark):
    from data_engineering_zoomcamp_my_test_spark.operators.text import mixture_weights

    docs = spark.createDataFrame(
        [(i, "w " * 99 + "w", "big") for i in range(90)]
        + [(100 + i, "w " * 99 + "w", "small") for i in range(10)],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in mixture_weights(docs, alpha=0.7).collect()}
    assert abs(rows["big"]["mix_weight"] + rows["small"]["mix_weight"] - 1.0) < 1e-5
    # alpha < 1 upsamples the small source, downsamples the big one
    assert rows["small"]["oversample"] > 1.0 > rows["big"]["oversample"]
    assert rows["big"]["n_tokens"] == 9000 and rows["small"]["n_docs"] == 10


def test_listagg_bounded_form(spark):
    """The scale-safe LISTAGG: rank-limit the group BEFORE collecting, so
    the aggregation state is bounded by k, not by group size (the unbounded
    form in b45 is for dim-sized groups only)."""
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(1, f"name{i:03d}") for i in range(100)] + [(2, "only")],
        "g int, v string",
    )
    ranked = df.withColumn(
        "rn", F.row_number().over(W.partitionBy("g").orderBy("v"))
    )
    out = {
        r["g"]: r["joined"]
        for r in ranked.filter(F.col("rn") <= 3)
        .groupBy("g")
        .agg(F.concat_ws(",", F.array_sort(F.collect_list("v"))).alias("joined"))
        .collect()
    }
    assert out[1] == "name000,name001,name002"
    assert out[2] == "only"


def test_decontaminate_collapse_result_invisible(spark):
    """Copy-heavy corpora route through the exact-copy collapse; results
    must be identical to the plain plan (same rows, same overlap counts),
    including docs with no contamination (absent from both outputs)."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import decontaminate

    heldout = spark.createDataFrame(
        [(900, "heldout", "the quick brown fox jumps")],
        "doc_id long, source string, text string",
    )
    # 3 distinct texts x 50 exact copies; texts 0/1 overlap the held-out
    # set (share >= 1 3-shingle), text 2 is clean.
    texts = [
        "the quick brown fox sleeps",   # shares 'the quick brown', 'quick brown fox'
        "a b the quick brown c",        # shares 'the quick brown'
        "totally clean document here",  # no shared shingle
    ]
    corpus = spark.createDataFrame(
        [(i, f"src{i % 3}", texts[i % 3]) for i in range(150)],
        "doc_id long, source string, text string",
    )
    plain = sorted(
        map(tuple, decontaminate(corpus, heldout, collapse_exact=False).collect())
    )
    collapsed = sorted(map(tuple, decontaminate(corpus, heldout).collect()))
    assert plain == collapsed
    assert len(plain) == 100  # 2 contaminated texts x 50 copies
    counts = {t[2] for t in plain}
    assert counts == {1, 2}


def test_resample_ffill_fills_gaps_with_last_value(spark):
    from data_engineering_zoomcamp_my_test_spark.operators.events import resample_ffill

    rows = [
        # user 1: observations in buckets 0, 1, 4 (gap at 2, 3)
        (1, 1, "2024-01-01 00:10:00", 5.0),
        (2, 1, "2024-01-01 00:50:00", 5.5),
        (3, 1, "2024-01-01 01:20:00", 7.0),
        (4, 1, "2024-01-01 04:01:00", 9.0),
        # user 2: single observation -> single-bucket grid, no gaps
        (5, 2, "2024-01-01 02:00:00", 1.0),
    ]
    ev = spark.createDataFrame(
        [(i, u, t, v) for i, u, t, v in rows],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r["user_id"], r["bucket_epoch_s"]): r
        for r in resample_ffill(ev, bucket_s=3600).collect()
    }
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    u1 = [out[(1, base + h * 3600)] for h in range(5)]
    assert [r["v_filled"] for r in u1] == [5.5, 7.0, 7.0, 7.0, 9.0]
    assert [r["is_gap"] for r in u1] == [False, False, True, True, False]
    assert len([k for k in out if k[0] == 2]) == 1
    assert out[(2, base + 2 * 3600)]["v_filled"] == 1.0


def test_dup_spans_planted_boundaries(spark):
    """Two docs share one exact 12-token passage; a third doc carries two
    short excerpts of it. Expect exactly the maximal merged spans with
    1-based inclusive bounds, in every doc that holds a duplicated run."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import dup_spans

    shared = [f"s{i}" for i in range(12)]
    a = [f"a{i}" for i in range(20)] + shared + [f"A{i}" for i in range(10)]
    b = [f"b{i}" for i in range(5)] + shared + [f"B{i}" for i in range(3)]
    # c: one 5-token excerpt (one gram) + one 6-token excerpt (two grams),
    # separated by enough unique filler that the spans must NOT merge
    c = (
        [f"c{i}" for i in range(4)]
        + shared[:5]
        + [f"C{i}" for i in range(9)]
        + shared[6:12]
        + ["cz"]
    )
    docs = spark.createDataFrame(
        [(1, " ".join(a)), (2, " ".join(b)), (3, " ".join(c))],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_tokens, r.n_dup_grams)
        for r in dup_spans(docs, k=5).collect()
    }
    assert got == {
        (1, 21, 32, 12, 8),  # doc a: shared block at tokens 21..32
        (2, 6, 17, 12, 8),  # doc b: same block at tokens 6..17
        (3, 5, 9, 5, 1),  # doc c: 5-token excerpt -> single gram
        (3, 19, 24, 6, 2),  # doc c: 6-token excerpt -> two grams, merged
    }


def test_dup_spans_merges_touching_runs(spark):
    """Positions within k of each other merge into one span even when the
    duplicated grams come from different partner docs."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import dup_spans

    p1 = ["p1", "p2", "p3", "p4", "p5"]
    p2 = ["q1", "q2", "q3", "q4", "q5"]
    # doc 1 holds p1-block immediately followed by q-block: gap == k -> merge
    d1 = ["x1", "x2"] + p1 + p2 + ["x3"]
    docs = spark.createDataFrame(
        [
            (1, " ".join(d1)),
            (2, " ".join(["y1"] + p1 + ["y2", "y3"])),
            (3, " ".join(["z1", "z2", "z3"] + p2)),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dup_spans(docs, k=5).collect()}
    assert (rows[1].span_start, rows[1].span_end, rows[1].n_dup_grams) == (3, 12, 2)
    assert (rows[2].span_start, rows[2].span_end) == (2, 6)
    assert (rows[3].span_start, rows[3].span_end) == (4, 8)


def test_cut_dup_spans_planted(spark):
    """The cut is surgical: only span tokens go, order and the rest of the
    text survive, span-less docs pass through untouched, and a fully
    duplicated doc empties to '' (not NULL); NULL text stays NULL."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import cut_dup_spans

    shared = [f"s{i}" for i in range(7)]
    a = ["a1", "a2"] + shared + ["a3"]
    b = ["b1"] + shared + ["b2", "b3"]
    docs = spark.createDataFrame(
        [
            (1, " ".join(a)),
            (2, " ".join(b)),
            (3, " ".join(shared)),  # nothing but the shared run
            (4, "u1 u2 u3 u4 u5 u6"),  # unique -> untouched
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in cut_dup_spans(docs, k=5).collect()}
    assert (got[1].clean_text, got[1].n_removed) == ("a1 a2 a3", 7)
    assert (got[2].clean_text, got[2].n_removed) == ("b1 b2 b3", 7)
    assert (got[3].clean_text, got[3].n_removed) == ("", 7)
    assert (got[4].clean_text, got[4].n_removed) == ("u1 u2 u3 u4 u5 u6", 0)
    assert got[5].clean_text is None and got[5].n_removed is None


def test_curate_corpus_each_gate_fires(spark):
    """Planted corpus where every pipeline stage has exactly one victim:
    a short doc (length gate), a function-word-free doc (language gate),
    a normalized exact duplicate (dedup), a benchmark near-copy
    (decontamination), while a clean doc and a mildly-overlapping doc
    survive with correct shard placement."""
    from data_engineering_zoomcamp_my_test_spark.operators.curation import (
        curate_corpus,
    )

    bench_text = (
        "the capital of france is paris and the capital of italy is rome"
    )
    heldout = spark.createDataFrame(
        [(900, "bench", bench_text, len(bench_text))],
        "doc_id long, source string, text string, n_chars int",
    )
    good = "the growth of modern machines is driven by the steady flow of data"
    dup = "The growth, of modern machines is driven by the steady flow of data"
    mild = (
        "the capital of france is paris which many of the travel guides "
        "describe at length for visitors"
    )
    rows = [
        (1, "srcA", good),
        (2, "srcA", dup),          # normalizes to doc 1's text -> dedup drop
        (3, "srcA", "hi there you"),  # < 5 tokens -> length gate
        (4, "srcA", "zxqv plomb kreft vnmx bardle quint seven eight nine ten"),
        (5, "srcA", f"intro words {bench_text} closing words"),  # 11 shared
        (6, "srcB", mild),         # 4 shared shingles <= 7 -> survives
    ]
    corpus = spark.createDataFrame(
        [(i, s, t, len(t)) for i, s, t in rows],
        "doc_id long, source string, text string, n_chars int",
    )
    got = {r["doc_id"]: r for r in curate_corpus(corpus, heldout).collect()}
    assert set(got) == {1, 6}
    for doc_id, r in got.items():
        expect_shard = (doc_id * 2654435761 % 4294967296) % 16
        assert r["shard_id"] == expect_shard
        assert r["shard_pos"] == 0  # distinct shards here, both first
    assert got[1]["n_tok"] == 13 and got[1]["source"] == "srcA"


def test_curate_corpus_budget_caps_each_source(spark):
    """30 gate-passing docs of 13 tokens each in one source: the 800-token
    budget admits exactly floor(800/13) = 61 ... no — 13*61 > 800; it
    admits floor(800/13) = 61?  13*61=793 <= 800 -> 61, but only 30 exist,
    so ALL are admitted; with budget 100 only floor(100/13) = 7 survive,
    chosen in md5(text) admission order."""
    import hashlib

    from data_engineering_zoomcamp_my_test_spark.operators.curation import (
        curate_corpus,
    )

    heldout = spark.createDataFrame(
        [(900, "bench", "completely unrelated benchmark content", 38)],
        "doc_id long, source string, text string, n_chars int",
    )
    base = "the growth of modern machines is driven by the steady flow of"
    texts = [(i, f"{base} v{i:02d}") for i in range(30)]
    corpus = spark.createDataFrame(
        [(i, "srcX", t, len(t)) for i, t in texts],
        "doc_id long, source string, text string, n_chars int",
    )
    got = curate_corpus(corpus, heldout, budget_tokens=100).collect()
    assert len(got) == 7  # floor(100 / 13)
    expected_order = sorted(texts, key=lambda it: (hashlib.md5(it[1].encode()).hexdigest(), it[0]))
    assert {r["doc_id"] for r in got} == {i for i, _ in expected_order[:7]}
    # shard positions are a permutation of 0..k-1 within each shard
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in got:
        by_shard[r["shard_id"]].append(r["shard_pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))


def test_bigram_stats_known_values(spark):
    """'a b', 'a b', 'a c', 'b a' -> heads: a (3 continuations total:
    b,b,c), b (1: a). Top continuation of 'a' is 'b' with P=2/3; short
    docs (<2 tokens) contribute nothing (guards Spark's descending
    sequence(1, 0) footgun)."""
    from data_engineering_zoomcamp_my_test_spark.operators.text import bigram_stats

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "b a"), (5, "solo")],
        "doc_id long, text string",
    )
    got = {r["w1"]: r for r in bigram_stats(docs).collect()}
    assert set(got) == {"a", "b"}
    assert got["a"]["n_cont"] == 2 and got["a"]["n_total"] == 3
    assert got["a"]["top_w2"] == "b" and abs(got["a"]["top_prob"] - 0.666667) < 1e-9
    assert got["b"]["n_cont"] == 1 and got["b"]["n_total"] == 1
    assert got["b"]["top_w2"] == "a" and got["b"]["top_prob"] == 1.0


def test_dup_spans_hash_grams_differential(spark, sf_small):
    """The scale arm (hash_grams=True: 64-bit xxhash64 shuffle keys
    instead of gram strings) must produce the exact same span set as the
    string-keyed default on a collision-free corpus — both on real
    testdata and on a planted multi-span case."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import dup_spans
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    plain = sorted(map(tuple, dup_spans(docs).collect()))
    hashed = sorted(map(tuple, dup_spans(docs, hash_grams=True).collect()))
    assert plain == hashed
    assert len(plain) > 0

    planted = spark.createDataFrame(
        [
            (1, "x1 x2 shared run of five tokens here y1 y2"),
            (2, "a1 shared run of five tokens here b1 b2 b3"),
            (3, "no overlap at all in this one document"),
        ],
        "doc_id long, text string",
    )
    p = sorted(map(tuple, dup_spans(planted).collect()))
    h = sorted(map(tuple, dup_spans(planted, hash_grams=True).collect()))
    assert p == h and len(p) == 2  # one span in each of docs 1 and 2


def test_negative_sampling_deterministic_and_self_bump(spark):
    """With N=5, the hash chain reduces to (id + 2j) mod 5, so j=5 is a
    guaranteed self-draw for every id and must bump to (id+1) mod 5.
    Dense-id violation must raise, not silently mis-sample."""
    import pytest

    from data_engineering_zoomcamp_my_test_spark.operators.similarity import (
        negative_sampling,
    )

    emb = spark.createDataFrame(
        [(i, [float(i)], i % 2) for i in range(5)],
        "vec_id long, embedding array<float>, label int",
    )
    got = negative_sampling(emb, emb, k=5).collect()
    assert len(got) == 25
    by = {(r["vec_id"], r["j"]): r for r in got}
    for i in range(5):
        assert by[(i, 5)]["neg_id"] == (i + 1) % 5  # self-draw bumped
        for j in range(1, 5):
            assert by[(i, j)]["neg_id"] == (i + 2 * j) % 5
            expect_same = ((i + 2 * j) % 5) % 2 == i % 2
            assert by[(i, j)]["neg_same_label"] == expect_same

    sparse = spark.createDataFrame(
        [(0, [0.0], 0), (2, [1.0], 1)],
        "vec_id long, embedding array<float>, label int",
    )
    with pytest.raises(ValueError, match="dense"):
        negative_sampling(sparse, sparse)


def test_oov_rate_known_vocab_cutoff(spark):
    """vocab_size=2 on counts {a:4, b:3, c:2, d:1} fits {a, b}; doc OOV
    rates follow exactly."""
    from data_engineering_zoomcamp_my_test_spark.operators.text import oov_rate

    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b d"), (3, "a b c")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in oov_rate(docs, vocab_size=2).collect()}
    assert (got[1]["n_tokens"], got[1]["n_oov"]) == (4, 1)
    assert got[1]["oov_rate"] == 0.25
    assert (got[2]["n_tokens"], got[2]["n_oov"]) == (3, 1)
    assert (got[3]["n_tokens"], got[3]["n_oov"]) == (3, 1)


def test_retention_cohorts_planted(spark):
    """Two cohorts: users 1,2 first active week W0 (user 1 returns in W1),
    user 3 first active in W1. Cells and retention shares are exact."""
    import datetime as dt

    from data_engineering_zoomcamp_my_test_spark.operators.events import (
        retention_cohorts,
    )

    w0 = dt.datetime(2024, 1, 1, 12, 0)   # Monday
    w1 = dt.datetime(2024, 1, 8, 12, 0)   # next Monday
    rows = [
        (1, w0), (2, w0),                  # cohort W0
        (1, w1),                           # user 1 retained in W1
        (3, w1),                           # cohort W1
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r["cohort_epoch_s"], r["week_offset"]): r
        for r in retention_cohorts(ev).collect()
    }
    e0 = int(dt.datetime(2024, 1, 1).timestamp())
    e1 = int(dt.datetime(2024, 1, 8).timestamp())
    assert got[(e0, 0)]["n_users"] == 2 and got[(e0, 0)]["retention"] == 1.0
    assert got[(e0, 1)]["n_users"] == 1 and got[(e0, 1)]["retention"] == 0.5
    assert got[(e1, 0)]["n_users"] == 1 and got[(e1, 0)]["retention"] == 1.0
    assert len(got) == 3


def test_length_drift_psi_identical_and_shifted(spark):
    """Identical distributions give (near-)zero PSI; a hard length shift
    concentrates contributions in the vacated and occupied buckets."""
    from data_engineering_zoomcamp_my_test_spark.operators.text import (
        length_drift_psi,
    )

    short = [(i, "w " * 5) for i in range(50)]         # ~6 tokens -> bucket 0
    long_ = [(i, "w " * 50) for i in range(50)]        # ~51 tokens -> bucket 2
    a = spark.createDataFrame(short, "doc_id long, text string")
    b_same = spark.createDataFrame(short, "doc_id long, text string")
    b_shift = spark.createDataFrame(long_, "doc_id long, text string")

    same = length_drift_psi(a, b_same).collect()
    assert sum(abs(r["psi_contrib"]) for r in same) < 1e-9

    shifted = {r["bucket"]: r for r in length_drift_psi(a, b_shift).collect()}
    psi = sum(r["psi_contrib"] for r in shifted.values())
    assert psi > 0.2  # conventional "shifted" alarm threshold
    assert shifted[0]["n_a"] == 50 and shifted[0]["n_b"] == 0
    assert shifted[2]["n_a"] == 0 and shifted[2]["n_b"] == 50


def test_feature_hashing_known_values(spark):
    """Signed counts: a doc with token 'a' repeated 3x lands 3*sign in
    slot fp('a') % dim; two different tokens in the same slot cancel or
    add per their sign bits; empty tokens from double spaces are ignored."""
    from data_engineering_zoomcamp_my_test_spark.operators.text import (
        _FP_MOD,
        feature_hashing,
    )

    def fp(tok):
        acc = 0
        for ch in tok:
            acc = (acc * 31 + ord(ch)) % _FP_MOD
        return acc

    docs = spark.createDataFrame(
        [(1, "a a  a"), (2, "a b")], "doc_id long, text string"
    )
    got = {(r["doc_id"], r["dim"]): r["value"] for r in feature_hashing(docs, dim=4).collect()}
    sa = 1 if (fp("a") // 4) % 2 == 0 else -1
    sb = 1 if (fp("b") // 4) % 2 == 0 else -1
    da, db = fp("a") % 4, fp("b") % 4
    assert got[(1, da)] == 3 * sa
    if da == db:
        assert got[(2, da)] == sa + sb
    else:
        assert got[(2, da)] == sa and got[(2, db)] == sb


def test_cut_dup_spans_shrinks_span_mass_on_real_corpus(spark, sf_small):
    """Dedup-action property on real testdata: after one cut pass, the
    total duplicated-token mass strictly shrinks, and no ORIGINAL span
    survives (cut edges may juxtapose new token runs, so a small residue
    of brand-new spans is legitimate — the invariant is monotone
    convergence, not one-shot zero)."""
    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        cut_dup_spans,
        dup_spans,
    )
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    before = dup_spans(docs)
    mass_before = before.agg(F.sum("n_tokens")).head()[0] or 0
    assert mass_before > 0  # the synthetic corpus plants duplicates

    cut = cut_dup_spans(docs).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    after = dup_spans(cut)
    mass_after = after.agg(F.sum("n_tokens")).head()[0] or 0
    assert mass_after < mass_before

    # no surviving (doc, token-run) from the original span set: every
    # original span's tokens were removed from its doc
    surviving = before.alias("b").join(
        after.alias("a"),
        (F.col("b.doc_id") == F.col("a.doc_id"))
        & (F.col("a.span_start") == F.col("b.span_start"))
        & (F.col("a.span_end") == F.col("b.span_end")),
    )
    assert surviving.count() == 0


def test_pair_list_safety_valve_warns_and_strict_raises(spark, monkeypatch, caplog):
    """VERDICT r5 #6: on a copy-heavy corpus, the default output='pairs'
    contract logs a steer toward the linear forms (and raises under
    strict_scale) — while the returned pairs themselves stay identical to
    the un-warned run."""
    import logging

    import pytest

    from data_engineering_zoomcamp_my_test_spark.operators import dedup

    # 40 copies each of 2 texts: copy ratio 40 -> collapse triggers and the
    # identity-pair floor is 2 * 40*39/2 = 1560.
    rows = [(i, "alpha beta gamma" if i % 2 else "delta epsilon zeta")
            for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    monkeypatch.setattr(dedup, "_PAIR_LIST_WARN_THRESHOLD", 100)
    with caplog.at_level(logging.WARNING, logger=dedup.__name__):
        out = dedup.token_jaccard_pairs(df, threshold=0.9)
        n_pairs = out.count()
    assert any("output='clusters'" in r.message for r in caplog.records)
    assert n_pairs == 2 * (40 * 39) // 2  # identity pairs only at J>=0.9

    with pytest.raises(ValueError, match="quadratic in the copy count"):
        dedup.token_jaccard_pairs(df, threshold=0.9, strict_scale=True)

    # Below threshold: silent.
    monkeypatch.setattr(dedup, "_PAIR_LIST_WARN_THRESHOLD", 10_000_000)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=dedup.__name__):
        assert dedup.token_jaccard_pairs(df, threshold=0.9).count() == n_pairs
    assert not [r for r in caplog.records if "quadratic" in r.message]

    # ADVICE r6: the valve must fire below the 1.5x collapse trigger too —
    # the identity-pair floor n*(c-1)/2 does not need the collapse plan.
    # 100 docs, ratio 100/90 ~ 1.11 < 1.5, floor = 10*... use distincts:
    # 90 distinct texts + 10 extra copies -> est = 100*(100/90-1)/2 ~ 5.5.
    low_ratio = [(i, f"unique text number {i} with filler words")
                 for i in range(90)] + [
        (90 + j, f"unique text number {j} with filler words") for j in range(10)
    ]
    df2 = spark.createDataFrame(low_ratio, "doc_id long, text string")
    monkeypatch.setattr(dedup, "_PAIR_LIST_WARN_THRESHOLD", 3)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=dedup.__name__):
        dedup.token_jaccard_pairs(df2, threshold=0.9).count()
    assert any("quadratic" in r.message for r in caplog.records)
    with pytest.raises(ValueError, match="quadratic in the copy count"):
        dedup.token_jaccard_pairs(df2, threshold=0.9, strict_scale=True)


def test_pagerank_known_graph_matches_reference_iteration(spark):
    """PageRank on a 3-node path graph (1-2, 2-3, symmetric) must equal a
    plain-Python reference iteration of the same fixed-point formula, and
    conserve total mass (symmetric graph => no dangling leak)."""
    from data_engineering_zoomcamp_my_test_spark.operators.analytics import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    got = {
        r.node: r.rank for r in pagerank(nodes, edges, n_iter=8).collect()
    }

    # reference: same formula, dict arithmetic
    outdeg = {1: 1, 2: 2, 3: 1}
    nbrs_in = {1: [2], 2: [1, 3], 3: [2]}
    ranks = {v: 1.0 / 3 for v in (1, 2, 3)}
    for _ in range(8):
        ranks = {
            v: 0.15 / 3 + 0.85 * sum(ranks[u] / outdeg[u] for u in nbrs_in[v])
            for v in (1, 2, 3)
        }
    for v in (1, 2, 3):
        assert abs(got[v] - ranks[v]) < 1e-9, (v, got[v], ranks[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # symmetry of the path: endpoints tie, middle node dominates
    assert abs(got[1] - got[3]) < 1e-12 and got[2] > got[1]


def test_pagerank_isolated_node_gets_teleport_only(spark):
    """A node with no inbound edges must keep exactly the teleport share
    (1-d)/N each round — the nodes-left-join + coalesce(0) arm."""
    from data_engineering_zoomcamp_my_test_spark.operators.analytics import pagerank

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    got = {
        r.node: r.rank for r in pagerank(nodes, edges, n_iter=3).collect()
    }
    assert abs(got[3] - 0.15 / 3) < 1e-12
    # node 1 has no inbound either: teleport only
    assert abs(got[1] - 0.15 / 3) < 1e-12
    assert got[2] > got[1]


def test_bm25_hand_computed_tiny_corpus(spark):
    """BM25 against a hand-computed two-doc corpus: exact Lucene-variant
    idf and length normalization, docs without query terms absent."""
    import math

    from data_engineering_zoomcamp_my_test_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "merge merge scan"),       # tf(merge)=2, dl=3
            (2, "scan filter sort join"),  # no query terms, dl=4
            (3, "window scan"),            # tf(window)=1, dl=2
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.bm25
        for r in bm25_scores(
            spark, docs, query_terms=("merge", "window"), k1=1.2, b=0.75
        ).collect()
    }
    assert set(got) == {1, 3}  # doc 2 has no query term

    n, avgdl = 3, 3.0
    def score(tf, df, dl):
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        return idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    assert abs(got[1] - round(score(2, 1, 3.0), 6)) < 1e-9
    assert abs(got[3] - round(score(1, 1, 2.0), 6)) < 1e-9


def test_bm25_degenerate_query_terms(spark):
    """Degenerate query_terms contract (ADVICE r12): duplicate terms are
    deduped (no double-counted tf contribution — matches SQL IN) and an
    empty tuple raises on BOTH the Spark side and the oracle builder
    (DuckDB would reject ``IN ()`` anyway)."""
    import pytest as _pytest

    from data_engineering_zoomcamp_my_test_spark.operators.text import (
        _bm25_oracle_sql,
        bm25_scores,
    )

    docs = spark.createDataFrame(
        [(1, "merge merge scan"), (2, "window scan")],
        "doc_id long, text string",
    )
    once = {
        r.doc_id: r.bm25
        for r in bm25_scores(spark, docs, query_terms=("merge",)).collect()
    }
    duped = {
        r.doc_id: r.bm25
        for r in bm25_scores(
            spark, docs, query_terms=("merge", "merge", "merge")
        ).collect()
    }
    assert once == duped
    assert "'merge'" in _bm25_oracle_sql(("merge", "merge"))
    assert _bm25_oracle_sql(("merge", "merge")).count("'merge'") == 1
    with _pytest.raises(ValueError):
        bm25_scores(spark, docs, query_terms=())
    with _pytest.raises(ValueError):
        _bm25_oracle_sql(())


def test_triangle_counts_known_graph(spark):
    """K4 minus one edge: nodes {1,2,3,4}, edges all pairs except (3,4).
    Triangles: {1,2,3} and {1,2,4} — so nodes 1,2 sit in 2 each, nodes
    3,4 in 1 each. Canonical (src<dst) input, each triangle counted
    once."""
    from data_engineering_zoomcamp_my_test_spark.operators.analytics import (
        triangle_counts,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], "src long, dst long"
    )
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}


def test_triangle_counts_no_triangles_is_empty(spark):
    """A path graph has wedges but no closed triangle — output empty,
    not zero-filled (inner semantics, matches the oracle)."""
    from data_engineering_zoomcamp_my_test_spark.operators.analytics import (
        triangle_counts,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert triangle_counts(edges).count() == 0


def test_triangle_counts_oriented_matches_id_ordered(spark):
    """The degree-ordered plan (c92's r13 implementation) is an exact
    equivalent of the id-ordered 3-way self-join — same per-node counts
    on (a) the K4-minus-edge pin, (b) a hub-and-spokes graph where
    degree order and id order DISAGREE maximally (hub id 1 has max
    degree — id order wedges at the hub, degree order never does), and
    (c) a seeded random G(n, p) graph."""
    import itertools
    import random

    from data_engineering_zoomcamp_my_test_spark.operators.analytics import (
        triangle_counts,
        triangle_counts_oriented,
    )

    cases = {
        "k4_minus_edge": [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)],
        # hub node 1 connected to 2..8, plus rim edges forming triangles
        "hub": [(1, k) for k in range(2, 9)] + [(2, 3), (4, 5), (6, 7)],
    }
    rng = random.Random(13)
    cases["gnp"] = [
        (a, b)
        for a, b in itertools.combinations(range(1, 21), 2)
        if rng.random() < 0.3
    ]
    for name, edge_list in cases.items():
        edges = spark.createDataFrame(edge_list, "src long, dst long")
        base = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
        fast = {
            r.node: r.n_triangles
            for r in triangle_counts_oriented(edges).collect()
        }
        assert base == fast, f"{name}: oriented plan diverged from id-ordered"


def test_triangle_doulion_unbiased_on_copurchase(spark, sf_small):
    """c93's DOULION estimate vs the exact global count on the sf0.001
    co-purchase graph. p=0.5 keeps half the edges in expectation; the
    estimator is unbiased with std ~ sqrt(T * (1/p^3 - 1)) for the
    independent-triangle term, so on a graph with thousands of triangles
    the relative error should be well under 50% — a loose bound chosen
    to never flake on the fixed md5 coin while still catching a wrong
    scale factor (x8 off by even one power of two breaks it)."""
    from data_engineering_zoomcamp_my_test_spark.operators import all_queries

    exact = (
        all_queries()["c92_triangle_count"](spark, sf_small)
        .agg(F.sum("n_triangles"))
        .head()[0]
        // 3
    )
    est_row = all_queries()["c93_triangle_global_approx"](
        spark, sf_small
    ).head()
    assert est_row.est_triangles == est_row.n_tri_sampled * 8
    assert exact > 0
    rel_err = abs(est_row.est_triangles - exact) / exact
    assert rel_err < 0.5, (
        f"DOULION estimate {est_row.est_triangles} vs exact {exact}: "
        f"rel err {rel_err:.3f}"
    )


def test_b39_setops_all_matches_exceptall_form(spark, tmp_path):
    """b39's one-pass conditional-count form must equal the literal
    EXCEPT ALL / INTERSECT ALL formulation on a constructed multiset that
    hits every per-key regime: na>nb, na<nb, A-only, B-only, a row in
    BOTH sides at once, and rows in neither."""
    from data_engineering_zoomcamp_my_test_spark.operators.relational import (
        b39_setops_all,
    )

    rows = (
        # k1: na=3, nb=1 -> except 2, intersect 1
        [(1, 30.0, "N")] * 3 + [(1, 10.0, "R")]
        # k2: na=1, nb=2 -> except 0, intersect 1
        + [(2, 30.0, "N")] + [(2, 10.0, "R")] * 2
        # k3: A-only, na=2 -> except 2
        + [(3, 25.0, "N")] * 2
        # k4: B-only, nb=2 -> nothing
        + [(4, 1.0, "R")] * 2
        # k5: neither side
        + [(5, 1.0, "N")]
        # k6: one row in BOTH sides -> na=1, nb=1 -> intersect 1
        + [(6, 40.0, "R")]
    )
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_quantity double, l_returnflag string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    out = {r.op: r.n for r in b39_setops_all(spark, str(tmp_path)).collect()}
    assert out == {"except_all": 4, "intersect_all": 3}

    # literal-form differential on the same data
    a = df.filter(F.col("l_quantity") >= 25).select("l_orderkey")
    b = df.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    assert a.exceptAll(b).count() == out["except_all"]
    assert a.intersectAll(b).count() == out["intersect_all"]


def test_b19_setops_matches_literal_form(spark, tmp_path):
    """b19's one-pass membership-bit form must equal the literal
    subtract/intersect/union-distinct formulation on a constructed orders
    table covering: 95-only, 96-only, both-years, multi-order-per-year
    (set semantics must not double-count), and other-year customers."""
    import datetime as dt

    from data_engineering_zoomcamp_my_test_spark.operators.relational import (
        b19_setops,
    )

    d95, d96, d94 = (
        dt.date(1995, 3, 1),
        dt.date(1996, 7, 2),
        dt.date(1994, 1, 5),
    )
    rows = [
        (1, d95), (1, d95),          # 95-only, duplicate orders
        (2, d96),                    # 96-only
        (3, d95), (3, d96), (3, d96),  # both years
        (4, d94),                    # neither year
        (5, d95), (5, d94),          # 95-only plus other-year noise
    ]
    df = spark.createDataFrame(rows, "o_custkey long, o_orderdate date")
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))

    out = {r.op: r.n for r in b19_setops(spark, str(tmp_path)).collect()}
    assert out == {"except": 2, "intersect": 1, "union": 4}

    y95 = df.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    y96 = df.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    assert y95.subtract(y96).count() == out["except"]
    assert y95.intersect(y96).count() == out["intersect"]
    assert y95.union(y96).distinct().count() == out["union"]
