"""Property-based spot checks (SURVEY.md §5.4), hypothesis-driven where the
property is data-shaped, plain randomized fixtures where Spark round-trips
dominate the runtime."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from data_engineering_zoomcamp_my_test_spark.operators.dedup import exact_dedup
from data_engineering_zoomcamp_my_test_spark.operators.similarity import (
    brute_force_topk,
    lsh_ann,
)


def test_dedup_idempotent_under_self_union(spark):
    """dedup(x union x) == dedup(x)."""
    rng = random.Random(7)
    rows = [(i, f"doc {rng.randint(0, 30)}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = sorted(
        (r.text, r.n_copies * 2, r.doc_id)
        for r in exact_dedup(df, ["text"], "doc_id").collect()
    )
    doubled = sorted(
        (r.text, r.n_copies, r.doc_id)
        for r in exact_dedup(df.union(df), ["text"], "doc_id").collect()
    )
    assert once == doubled


def test_window_unbounded_sum_equals_groupby_sum(spark):
    """Running sum at the last row of each partition == group total."""
    rng = random.Random(11)
    rows = [
        (i, i % 7, round(rng.uniform(0, 100), 2)) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, k int, v double")
    from pyspark.sql import Window as W

    w = W.partitionBy("k").orderBy("id").rowsBetween(W.unboundedPreceding, W.currentRow)
    last = (
        df.withColumn("run", F.sum(F.col("v").cast("decimal(18,2)")).over(w))
        .withColumn(
            "rn",
            F.row_number().over(W.partitionBy("k").orderBy(F.col("id").desc())),
        )
        .filter("rn = 1")
        .select("k", F.col("run").alias("total"))
    )
    grouped = df.groupBy("k").agg(
        F.sum(F.col("v").cast("decimal(18,2)")).alias("total")
    )
    assert sorted(map(tuple, last.collect())) == sorted(map(tuple, grouped.collect()))


def test_lsh_recall_vs_brute_force(spark, sf_small):
    """LSH kNN must recover most true neighbors (recall >= 0.5 on k=10 —
    approximate by design, bounded from below)."""
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    truth = {
        r.neighbor_id
        for r in brute_force_topk(emb, emb.filter("vec_id = 1"), k=10).collect()
    }
    qvec = [float(x) for x in emb.filter("vec_id = 1").head().embedding]
    approx = {r.vec_id for r in lsh_ann(emb, qvec, k=10).collect()}
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_union_count_additive(spark):
    df1 = spark.range(100)
    df2 = spark.range(50)
    assert df1.union(df2).count() == 150
    assert df1.union(df2).distinct().count() == 100


def test_lsh_batch_and_ivf_recall_vs_brute_force(spark, sf_small):
    """Approximate operators are bounded from below against the exact
    baseline: a wrong-but-runs ANN can no longer pass silently.
    Batch-LSH and IVF(4-probe) must both hit recall >= 0.9 on k=5."""
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table
    from data_engineering_zoomcamp_my_test_spark.operators.similarity import (
        ivf_index,
        ivf_search,
        lsh_knn_batch,
    )

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter("vec_id < 10")
    truth = {}
    for r in brute_force_topk(emb, queries, k=5).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    got_lsh = {}
    for r in lsh_knn_batch(emb, queries, k=5).collect():
        got_lsh.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & got_lsh.get(q, set())) for q in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.9, f"batch-LSH recall too low: {hits / total}"

    model, assigned = ivf_index(emb, n_cells=8)
    got_ivf = {}
    for r in ivf_search(model, assigned, queries, k=5, n_probe=4).collect():
        got_ivf.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(truth[q] & got_ivf.get(q, set())) for q in truth)
    assert hits / total >= 0.9, f"IVF recall too low: {hits / total}"


def test_approx_distinct_within_tolerance(spark, sf_small):
    """b5's HLL sketch must land within 5% of the exact distinct count."""
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem")
    exact = li.select("l_orderkey").distinct().count()
    approx = li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("n")
    ).first().n
    assert abs(approx - exact) / exact < 0.05, (approx, exact)


def test_lsh_blocked_neardup_planted_recall(spark, sf_small):
    """c48's composite-key LSH blocking, tested in its design regime: plant
    one noisy near-duplicate (cos ~0.97) for each of 50 corpus vectors,
    then require (a) recall >= 0.9 on the planted pairs at threshold 0.9
    and (b) zero false pairs (nothing else in this corpus reaches 0.9)."""
    import math

    from data_engineering_zoomcamp_my_test_spark.operators.similarity import (
        lsh_blocked_neardup,
    )
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    rows = emb.select("vec_id", "label", "embedding").collect()
    rng = random.Random(7)
    planted = []
    for r in rows[:50]:
        nv = [x + rng.gauss(0, 0.04) for x in r.embedding]
        norm = math.sqrt(sum(x * x for x in nv))
        planted.append((r.vec_id + 100_000, r.label, [x / norm for x in nv]))
    corpus = emb.select("vec_id", "label", "embedding").unionByName(
        spark.createDataFrame(planted, "vec_id long, label string, embedding array<float>")
    )
    got = {
        (r.vec_id_a, r.vec_id_b)
        for r in lsh_blocked_neardup(corpus, threshold=0.9).collect()
    }
    found = sum(1 for r in rows[:50] if (r.vec_id, r.vec_id + 100_000) in got)
    assert found / 50 >= 0.9, f"planted recall too low: {found}/50"
    assert got <= {(r.vec_id, r.vec_id + 100_000) for r in rows[:50]}, (
        "false near-dup pairs reported"
    )


def test_jaccard_plans_match_bruteforce_random_corpora(spark):
    """Property: token_jaccard_pairs (whichever plan the vocab probe picks)
    equals the quadratic python reference on random corpora."""
    import itertools

    rng = random.Random(23)
    for trial in range(3):
        vocab_size = rng.choice([8, 30, 80])  # straddles the 64-token cutoff
        vocab = [f"t{j}" for j in range(vocab_size)]
        docs = [
            (i, " ".join(rng.choices(vocab, k=rng.randint(3, 12))))
            for i in range(40)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
            token_jaccard_pairs,
        )

        got = {
            (r.doc_id_a, r.doc_id_b): round(r.jaccard, 9)
            for r in token_jaccard_pairs(df, threshold=0.5).collect()
        }
        sets = {i: set(t.split()) for i, t in docs}
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            if inter:
                j = inter / len(sets[a] | sets[b])
                if j >= 0.5:
                    want[(a, b)] = round(j, 9)
        assert got == want, f"trial {trial} vocab={vocab_size}"


def test_jaccard_boundary_threshold_rounding(spark):
    """Regression (ADVICE r2): thresholds whose product with n_tok is an
    integer that rounds UP in binary (20*0.55 -> 11.000000000000002) must
    not drop exact J == t boundary pairs — previously lost to both the
    over-ceiled prefix length and the size-pruning bounds (shared by the
    bitset plan)."""
    import itertools
    from fractions import Fraction

    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        token_jaccard_pairs,
    )

    assert 25 * 0.28 > 7, "fixture premise: binary product rounds up"
    # A has 25 tokens; B is a 7-token subset: J = 7/25 = 0.28 exactly.
    a_toks = [f"s{i:02d}" for i in range(25)]
    docs = [(0, " ".join(a_toks)), (1, " ".join(a_toks[:7]))]

    # bitset plan (vocab 25 <= 64): boundary pair must survive size pruning
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id_a, r.doc_id_b)
        for r in token_jaccard_pairs(df, threshold=0.28).collect()
    }
    assert (0, 1) in got, "bitset plan dropped the exact J == t pair"

    # prefix plan: disjoint filler docs push vocab past the 64-token cutoff
    filler = [
        (100 + i, " ".join(f"u{i:02d}x{j}" for j in range(5))) for i in range(20)
    ]
    df2 = spark.createDataFrame(docs + filler, "doc_id long, text string")
    got2 = {
        (r.doc_id_a, r.doc_id_b)
        for r in token_jaccard_pairs(df2, threshold=0.28).collect()
    }
    assert (0, 1) in got2, "prefix plan dropped the exact J == t pair"

    # full brute-force equality at the awkward threshold (exact rationals)
    sets = {i: set(t.split()) for i, t in docs + filler}
    want = {
        (x, y)
        for x, y in itertools.combinations(sorted(sets), 2)
        if sets[x] & sets[y]
        and Fraction(len(sets[x] & sets[y]), len(sets[x] | sets[y]))
        >= Fraction(7, 25)
    }
    assert got2 == want


def test_connected_components_matches_union_find(spark):
    """Property: CC equals a reference python union-find on random graphs
    (including multi-component and chain shapes)."""
    rng = random.Random(31)
    for trial in range(3):
        n = 40
        edges = [
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.04
        ]
        ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edf = spark.createDataFrame(
            edges or [(0, 0)], "doc_id_a long, doc_id_b long"
        )
        from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
            connected_components,
        )

        got = {
            r.doc_id: r.cluster
            for r in connected_components(ids, edf, max_iter=40).collect()
        }
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {}
        comp_min = {}
        for i in range(n):
            r = find(i)
            comp_min.setdefault(r, []).append(i)
        for r, members in comp_min.items():
            m = min(members)
            for i in members:
                want[i] = m
        assert got == want, f"trial {trial}"


def test_star_cc_matches_driver_cc_random_graphs(spark):
    """Property: large-star/small-star CC produces the exact same
    (id, cluster) assignment as the driver union-find on random graphs —
    the two arms of ``connected_components`` are interchangeable."""
    rng = random.Random(47)
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    for trial in range(3):
        n = 40
        edges = [
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.05
        ]
        ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edf = spark.createDataFrame(
            edges or [(0, 0)], "doc_id_a long, doc_id_b long"
        )
        star = {
            r.doc_id: r.cluster
            for r in connected_components_star(ids, edf).collect()
        }
        driver = {
            r.doc_id: r.cluster for r in connected_components(ids, edf).collect()
        }
        assert star == driver, f"trial {trial}"


def test_approx_percentiles_close_to_exact(spark, sf_small):
    """c53's sketch quantiles must land within 5% relative error of the
    exact per-group percentiles. (percentile_approx returns a nearest-rank
    data value while the exact percentile interpolates, so on small strata
    the gap is one inter-sample step, not a sketch error.)"""
    from data_engineering_zoomcamp_my_test_spark.operators import all_queries

    approx = {
        r.event_type: (r.p50_approx, r.p95_approx)
        for r in all_queries()["c53_approx_percentiles"](spark, sf_small).collect()
    }
    exact = {
        r.event_type: (r.p50, r.p95)
        for r in all_queries()["c24_percentiles"](spark, sf_small).collect()
    }
    for et, (p50, p95) in exact.items():
        a50, a95 = approx[et]
        assert abs(a50 - p50) / max(abs(p50), 1e-9) < 0.05, (et, a50, p50)
        assert abs(a95 - p95) / max(abs(p95), 1e-9) < 0.05, (et, a95, p95)


def test_stratified_sample_rates_within_tolerance(spark, sf_small):
    """c54's per-stratum sampling rates must track the requested fractions
    (exact for fraction 1.0; +-40% relative for Bernoulli strata)."""
    from data_engineering_zoomcamp_my_test_spark.operators import all_queries
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    totals = {
        r.event_type: r.n
        for r in load_table(spark, sf_small, "events")
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    sampled = {
        r.event_type: r.n_sampled
        for r in all_queries()["c54_stratified_sample"](spark, sf_small).collect()
    }
    assert sampled.get("purchase") == totals["purchase"]  # fraction 1.0 exact
    for et, frac in (("view", 0.1), ("click", 0.5)):
        rate = sampled.get(et, 0) / totals[et]
        assert abs(rate - frac) / frac < 0.4, (et, rate)


def test_resample_ffill_grid_is_dense_and_total(spark):
    """Random event sets: the resampled grid is dense (every bucket from
    each key's min to max exactly once), v_filled is total (no nulls), and
    non-gap buckets carry their bucket max."""
    from data_engineering_zoomcamp_my_test_spark.operators.events import (
        resample_ffill,
    )

    rng = random.Random(23)
    rows = []
    for i in range(400):
        u = rng.randint(1, 8)
        t = rng.randint(0, 3600 * 50)
        rows.append((i, u, t, round(rng.uniform(0, 100), 2)))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, sec long, value double"
    ).withColumn("ts", F.timestamp_seconds("sec"))
    out = resample_ffill(ev, bucket_s=3600).collect()
    assert all(r["v_filled"] is not None for r in out)
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r["bucket_epoch_s"])
    # dense, duplicate-free grid per user
    for _u, buckets in by_user.items():
        bs = sorted(buckets)
        assert bs == list(range(bs[0], bs[-1] + 3600, 3600))
        assert len(set(bs)) == len(bs)
    # non-gap rows carry the exact bucket max
    expected: dict[tuple, float] = {}
    for _i, u, t, v in rows:
        key = (u, (t // 3600) * 3600)
        expected[key] = max(expected.get(key, float("-inf")), v)
    for r in out:
        if not r["is_gap"]:
            assert r["v_filled"] == expected[(r["user_id"], r["bucket_epoch_s"])]


def test_shard_assign_is_a_permutation(spark):
    """Every doc appears exactly once, under any shard count."""
    from data_engineering_zoomcamp_my_test_spark.operators.text import shard_assign

    ids = random.Random(5).sample(range(10_000_000), 500)
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    for n in (1, 7, 64):
        out = shard_assign(docs, n_shards=n).collect()
        assert sorted(r["doc_id"] for r in out) == sorted(ids)
        assert all(0 <= r["shard_id"] < n for r in out)


def test_repetition_stats_bounds_and_extremes(spark):
    """Ratios stay in (0, 1]; a fully-repeated doc maxes dup_3gram_frac;
    an all-distinct doc zeroes it; stats are permutation-stable under
    repartitioning."""
    from data_engineering_zoomcamp_my_test_spark.operators.text import (
        repetition_stats,
    )

    rng = random.Random(31)
    vocab = [f"w{j}" for j in range(40)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60))))
        for i in range(120)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert len(out) == 120
    for r in out.values():
        assert 0 < r["distinct_ratio"] <= 1.0
        assert 0 < r["top_word_frac"] <= 1.0
        assert 0.0 <= r["dup_3gram_frac"] <= 1.0
    again = {
        r["doc_id"]: r for r in repetition_stats(docs.repartition(13)).collect()
    }
    assert all(tuple(again[k]) == tuple(v) for k, v in out.items())


def test_chunk_windows_cover_every_token(spark):
    """Chunking invariants on random docs: chunk_id/start_tok arithmetic,
    every token index covered by >= 1 chunk, non-final chunks exactly
    ``window`` tokens, reassembling stride-aligned prefixes reproduces the
    document, and the plan is partitioning-stable."""
    from data_engineering_zoomcamp_my_test_spark.operators.text import (
        chunk_windows,
    )

    rng = random.Random(23)
    rows = [
        (i, " ".join(f"t{i}_{j}" for j in range(rng.randint(1, 150))))
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    window, stride = 32, 24
    out = chunk_windows(docs, window=window, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {i for i, _ in rows}
    for doc_id, text in rows:
        n = len(text.split(" "))
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_id"])
        want_k = 1 + max(0, -(-(n - window) // stride)) if n > window else 1
        assert len(chunks) == want_k
        covered = set()
        for j, r in enumerate(chunks):
            assert r["chunk_id"] == j and r["start_tok"] == j * stride
            toks = r["chunk_text"].split(" ")
            assert r["n_tok"] == len(toks) == min(window, n - r["start_tok"])
            if j < len(chunks) - 1:
                assert r["n_tok"] == window
            covered.update(range(r["start_tok"], r["start_tok"] + r["n_tok"]))
        assert covered == set(range(n))


def test_mad_anomaly_flags_planted_spike(spark):
    """A planted 50x-volume hour is flagged; a uniform series flags
    nothing (mad > 0 guard) or only genuine edge effects."""
    import datetime

    from data_engineering_zoomcamp_my_test_spark.operators.events import (
        mad_anomaly,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(48):
        n = 1000 if h == 20 else 20  # uniform except one massive spike
        for k in range(n):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(hours=h, seconds=k % 3600),
                    "click",
                )
            )
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = mad_anomaly(ev).collect()
    spike_us = int((base + datetime.timedelta(hours=20)).timestamp() * 1_000_000)
    flagged = {r["window_start_us"] for r in out}
    # MAD degenerates to 0 here (majority-uniform baseline): the mean-AD
    # fallback must still catch the spike, and ONLY the spike.
    assert flagged == {spike_us}
    # perfectly uniform series flags nothing (all deviations are 0)
    uniform = ev.filter(
        F.date_trunc("hour", "ts")
        != F.lit(base + datetime.timedelta(hours=20)).cast("timestamp")
    )
    assert mad_anomaly(uniform).count() == 0


def test_bigram_logprob_ranks_corpus_like_docs_higher(spark):
    """A doc made of the corpus's dominant bigram scores higher than a doc
    of never-repeated bigrams; scores are partition-stable."""
    from data_engineering_zoomcamp_my_test_spark.operators.text import (
        bigram_logprob,
    )

    rows = [(i, "the cat " * 20 + "sat") for i in range(20)]
    rows.append((100, " ".join(f"rare{j}" for j in range(40))))
    docs = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["avg_logprob"] for r in bigram_logprob(docs).collect()}
    assert out[0] > out[100]
    again = {
        r["doc_id"]: r["avg_logprob"]
        for r in bigram_logprob(docs.repartition(7)).collect()
    }
    assert again == out


def test_pca_project_properties(spark, sf_small):
    """c95's evidence contract (no SQL oracle for eigendecomposition):
    (a) recomputing the components from the 6dp covariance reproduces an
    orthonormal basis; (b) the per-component variance of the projected
    scores is non-increasing and matches the eigenvalues of the rounded
    covariance; (c) on a synthetic corpus with one planted dominant
    direction, pc1 aligns with it."""
    import numpy as np

    from data_engineering_zoomcamp_my_test_spark.operators.similarity import (
        PCA_K,
        embedding_covariance,
        pca_project,
    )
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    cov_rows = embedding_covariance(emb).collect()
    d = max(r.dim_j for r in cov_rows) + 1
    cov = np.zeros((d, d))
    for r in cov_rows:
        cov[r.dim_i, r.dim_j] = cov[r.dim_j, r.dim_i] = r.cov
    eigvals = np.sort(np.linalg.eigvalsh(cov))[::-1][:PCA_K]

    scores = pca_project(spark, emb).collect()
    n = len({r.vec_id for r in scores})
    by_comp = {}
    for r in scores:
        by_comp.setdefault(r.comp, []).append(r.score)
    assert set(by_comp) == set(range(PCA_K))
    # population variance of each component's scores == its eigenvalue
    variances = []
    for c in range(PCA_K):
        v = np.asarray(by_comp[c])
        assert len(v) == n
        variances.append(float(np.var(v)))
    for got, want in zip(variances, eigvals):
        assert abs(got - want) < 1e-3 + 0.02 * abs(want), (variances, eigvals)
    assert all(
        variances[i] >= variances[i + 1] - 1e-9 for i in range(PCA_K - 1)
    )

    # planted dominant direction: x = t * u + small noise
    rng = np.random.default_rng(13)
    u = rng.normal(size=8)
    u /= np.linalg.norm(u)
    data = [
        (
            int(i),
            [float(x) for x in (rng.normal() * 5.0 * u + rng.normal(size=8) * 0.1)],
            0,
        )
        for i in range(300)
    ]
    planted = spark.createDataFrame(
        data, "vec_id long, embedding array<float>, label int"
    )
    pcov_rows = embedding_covariance(planted).collect()
    pcov = np.zeros((8, 8))
    for r in pcov_rows:
        pcov[r.dim_i, r.dim_j] = pcov[r.dim_j, r.dim_i] = r.cov
    w, V = np.linalg.eigh(pcov)
    pc1 = V[:, int(np.argmax(w))]
    assert abs(float(pc1 @ u)) > 0.99
    # and the distributed projection reproduces the driver-side one
    sc = {
        (r.vec_id, r.comp): r.score
        for r in pca_project(spark, planted, k=1).collect()
    }
    jmax = int(np.argmax(np.abs(pc1)))
    pc1_fixed = pc1 if pc1[jmax] >= 0 else -pc1
    for vec_id, vec, _ in data[:20]:
        want = float(np.asarray(vec, dtype=np.float64) @ pc1_fixed)
        assert abs(sc[(vec_id, 0)] - want) < 5e-3
