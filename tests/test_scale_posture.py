"""Scale-posture checks (SURVEY.md §2.3 design rule): plans must push
filters to the scan, broadcast bounded dims, avoid shuffles on bucketed
joins, and keep operators free of driver materialization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_zoomcamp_my_test_spark.operators import all_queries
from data_engineering_zoomcamp_my_test_spark.plans.sql import explain_str
from data_engineering_zoomcamp_my_test_spark.sinks import save_table


def test_filter_pushed_to_parquet_scan(spark, sf_small):
    df = all_queries()["b1_filter_pred"](spark, sf_small)
    plan = explain_str(df, "formatted")
    assert "PushedFilters: [" in plan
    # at least one concrete pushed predicate, not an empty list
    assert "PushedFilters: []" not in plan


def test_column_pruning_reaches_scan(spark, sf_small):
    df = all_queries()["b2_project_expr"](spark, sf_small)
    plan = explain_str(df, "formatted")
    # only the needed columns in ReadSchema (no l_tax, no flags)
    assert "l_tax" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_multiway_join_broadcasts_dims(spark, sf_small):
    df = all_queries()["b7_join_multiway"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_growing_tables_not_force_broadcast(spark, sf_small):
    """supplier (b7) and part (b10) grow with scale factor: their joins must
    rely on the size threshold (AQE-demotable), never an explicit hint. With
    the threshold disabled those joins must degrade to shuffle joins — a
    forced hint would keep them BroadcastHashJoin and OOM at 100x."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("b7_join_multiway", "b10_join_range"):
            plan = explain_str(all_queries()[name](spark, sf_small), "simple")
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
        # b10's only join is lineitem x part: with no hint and no threshold
        # there must be no broadcast left anywhere in the plan.
        plan10 = explain_str(all_queries()["b10_join_range"](spark, sf_small), "simple")
        assert "BroadcastHashJoin" not in plan10, plan10
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_topk_plans_as_take_ordered(spark, sf_small):
    df = all_queries()["b18_topk"](spark, sf_small)
    assert "TakeOrderedAndProject" in explain_str(df, "simple")


def test_bucketed_join_skips_shuffle(spark, sf_small):
    """Two tables bucketed on the join key co-locate: the join plan has no
    Exchange on either side — the 100 TB fact-fact join strategy."""
    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    save_table(orders, "b_orders", bucket_by=(4, ["o_orderkey"]))
    save_table(lineitem, "b_lineitem", bucket_by=(4, ["l_orderkey"]))
    # Disable broadcast so the planner faces the fact-fact shape this
    # strategy exists for (at real scale neither side broadcasts).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = explain_str(joined, "simple")
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partition_pruning_on_partitioned_write(spark, sf_small, tmp_path):
    """Hive-partitioned output + a filter on the partition key must prune at
    plan time (PartitionFilters), not scan-and-filter."""
    from data_engineering_zoomcamp_my_test_spark.sinks import write_parquet

    orders = spark.read.parquet(f"{sf_small}/orders.parquet")
    out = str(tmp_path / "orders_by_status")
    write_parquet(orders, out, partition_by=["o_orderstatus"])

    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = explain_str(back, "formatted")
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "o_orderstatus" in seg  # pruning reaches the scan
    n_f = orders.filter("o_orderstatus = 'F'").count()
    assert back.count() == n_f


def test_json_roundtrip(spark, sf_small, tmp_path):
    src = spark.read.parquet(f"{sf_small}/nation.parquet")
    out = str(tmp_path / "nation_json")
    src.write.json(out)
    from data_engineering_zoomcamp_my_test_spark.sources import read_json

    back = read_json(spark, out, schema="n_nationkey int, n_name string, n_regionkey int")
    assert sorted(map(tuple, back.select(*src.columns).collect())) == sorted(
        map(tuple, src.collect())
    )


def test_analyze_table_feeds_cbo(spark, sf_small):
    """ANALYZE TABLE must surface row/size statistics to the optimizer."""
    from data_engineering_zoomcamp_my_test_spark.plans.catalog import (
        analyze_table,
        table_stats,
    )

    spark.read.parquet(f"{sf_small}/nation.parquet").write.mode(
        "overwrite"
    ).saveAsTable("t_stats")
    try:
        analyze_table(spark, "t_stats", columns=["n_nationkey", "n_name"])
        stats = table_stats(spark, "t_stats")
        assert "rows" in stats and "25" in stats, stats
    finally:
        spark.sql("DROP TABLE t_stats")


def test_no_collect_in_operator_sources():
    """Operator modules must not driver-materialize (no .collect() in the
    operator path; the only allowed use is bounded query-vector fetch)."""
    import inspect

    from data_engineering_zoomcamp_my_test_spark.operators import (
        dedup,
        events,
        relational,
        text,
        transforms,
    )

    for mod in (relational, dedup, text, events, transforms):
        src = inspect.getsource(mod)
        assert ".collect()" not in src, mod.__name__
        assert ".toPandas()" not in src, mod.__name__


def test_jaccard_bitset_plan_no_cartesian(spark, sf_small):
    """The small-vocab exact-Jaccard plan must be a block-keyed join (no
    cartesian product) with the mask computed in projection."""
    df = all_queries()["c17_jaccard_pairs"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_hash_split_is_pure_projection(spark, sf_small):
    """c47 must plan as scan+project only — no Exchange, no aggregate:
    split assignment is embarrassingly parallel."""
    df = all_queries()["c47_hash_split"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert "Exchange" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_decontaminate_broadcasts_heldout_side(spark, sf_small):
    """c46's held-out shingle set must broadcast; the corpus side must not
    be exchanged for the join."""
    df = all_queries()["c46_decontaminate"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_shuffle_metrics_observability(spark, sf_small):
    """run_with_metrics reads real execution metrics: a pure projection
    shuffles zero bytes; a group-by shuffles a bounded, nonzero amount."""
    from data_engineering_zoomcamp_my_test_spark.plans.metrics import (
        run_with_metrics,
        shuffle_bytes,
    )

    assert shuffle_bytes(all_queries()["c47_hash_split"](spark, sf_small)) == 0
    m = run_with_metrics(all_queries()["b3_groupby_agg"](spark, sf_small))
    assert m.get("number of output rows", 0) > 0
    assert 0 < m.get("shuffle bytes written", 0) < 50_000  # partial-agg keeps it tiny


def test_metric_walk_logs_skipped_nodes(caplog):
    """The plan-walk exception guards are deliberate (accessor shape varies
    by JVM node), but silently-skipped nodes must be observable at DEBUG so
    metric gaps can be diagnosed (VERDICT r10 #6)."""
    import logging

    from data_engineering_zoomcamp_my_test_spark.plans import metrics as pm

    class NoMetrics:
        # no getClass -> exercises the python-type fallback label too
        def metrics(self):
            raise RuntimeError("wrapper node carries no metrics")

        def children(self):
            class Empty:
                def size(self):
                    return 0

            return Empty()

        def executedPlan(self):
            raise RuntimeError("accessor not wired on this node")

    acc: dict[str, int] = {}
    with caplog.at_level(logging.DEBUG, logger=pm.__name__):
        pm._walk(NoMetrics(), acc)
    assert acc == {}
    msgs = [r.getMessage() for r in caplog.records]
    assert any("metrics unreadable on NoMetrics" in s for s in msgs)
    assert any("executedPlan() unreadable" in s and "subtree skipped" in s
               for s in msgs)


def test_driver_window_contains_all_mandated_decls():
    """The external driver oracle-checks only the first ~50 entries of
    queries(); every SURVEY §2-mandated decl must stay inside that window
    (guards future additions against silently displacing them). The 7
    non-mandated seats rotate each round to decls that have never had a
    driver row (see _PRIORITY in operators/__init__.py). Driver-green
    companions (c13/c9b/c21/b9_join_semi, green in CORRECTNESS_r03) rotated
    out in round 4 to widen the rotation window — their mandated twins
    (c3/c9/c10/b9_join_anti) remain pinned."""
    names = list(all_queries())[:50]
    # Round 14: the r13 sixth-batch swap is honored — b5/b26/b27 are
    # restored under rule 2, so the swapped-out set is EMPTY again and
    # the full 43-pin block is seated. The 7 rotation seats follow the
    # rule-3 oldest-driver-row queue (operators/__init__.py).
    swapped_out: set[str] = set()
    mandated = [
        "a8_count_star", "a9_limit", "a10_project_first10", "a11_lit_col",
        *[f"b{i}_" for i in range(1, 29)],  # prefixes checked below
        "c1_dedup_exact", "c2_dedup_norm", "c3_cosine_topk", "c4_lsh_knn",
        "c5_text_stats", "c6_minhash", "c6_lsh_dup_pairs", "c7_tumbling",
        "c8_sliding", "c9_session", "c10_json_extract",
    ]
    for m in mandated:
        if m.endswith("_"):
            if any(s.startswith(m) for s in swapped_out):
                continue
            assert any(n.startswith(m) for n in names), f"missing {m}* in window"
        else:
            assert m in names, f"{m} fell out of the driver's 50-query window"
    # Rotation seats follow the standing policy (operators/__init__.py):
    # rule-1 re-seats for code churned since the last driver row, rule-2
    # returning pins, then rule-3 oldest-driver-row round-robin. The r14
    # window is 43 pins + 7 rule-3 seats (c36/c43/c46 from the r2 queue,
    # b9_join_semi/c13/c21/c32 from the r3 batch).
    from data_engineering_zoomcamp_my_test_spark.operators import all_oracle_sql

    seats = names[43:]
    assert len(seats) == 7
    oracles = all_oracle_sql()
    # b5_approx_distinct is the only seated rows-only decl (approx HLL
    # counts have no DuckDB-exact oracle by design).
    rows_only_seats: set[str] = {"b5_approx_distinct"}
    for s in seats:
        assert s in oracles or s in rows_only_seats, (
            f"rotation seat {s} has no exact oracle and is not a "
            "documented rows-only seat"
        )
    # last round's rotated-out seats must all still be registered
    registry = set(all_queries())
    for s in ("b55_q2_min_cost_supplier", "b56_q9_profit_by_nation_year",
              "b57_q12_priority_class", "b58_q16_supplier_cnt",
              "b59_q20_semi_chain", "b60_q21_waiting_suppliers",
              "c89_streaming_upsert", "c90_pagerank", "c91_bm25",
              "c92_triangle_count"):
        assert s in registry, f"rotated-out decl {s} disappeared"


def test_repetition_stats_single_shuffle_no_join(spark, sf_small):
    """c58's contract: one scan, one doc_id-keyed shuffle, zero joins —
    the tagged (kind, item) stream design (text.py docstring)."""
    import re

    df = all_queries()["c58_repetition_stats"](spark, sf_small)
    df.count()  # let AQE finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange", plan)) == 1
    assert "Join" not in plan
    assert len(re.findall(r"Scan parquet|FileScan", plan)) == 1
    assert "REPARTITION_BY_COL" in plan


def test_resample_ffill_partitioning_satisfied_downstream(spark, sf_small):
    """c61: every hash exchange is the upfront key repartition — the
    rollups, span, join, and fill window never re-shuffle on (key, b)."""
    import re

    df = all_queries()["c61_resample_ffill"](spark, sf_small)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    hash_parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert hash_parts, "expected the upfront key repartition"
    for part in hash_parts:
        cols = [c.split("#")[0].strip() for c in part.split(",")[:-1]]
        assert cols == ["user_id"], f"unexpected shuffle key: {part}"


def test_shard_assign_single_export_shuffle(spark, sf_small):
    """c59: the row_number window's shard-keyed shuffle is the only
    exchange — the export shuffle itself, nothing extra."""
    import re

    df = all_queries()["c59_shard_assign"](spark, sf_small)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange", plan)) == 1


def test_dup_spans_keyed_shuffles_no_cartesian(spark, sf_small):
    """c62's contract: every exchange is keyed on gram or doc_id (the
    pair-free exact-substring plan — no pairwise join, no cartesian),
    and the gram build is a single linear scan."""
    import re

    df = all_queries()["c62_dup_spans"](spark, sf_small)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    hash_parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert hash_parts
    for part in hash_parts:
        cols = {c.split("#")[0].strip() for c in part.split(",")[:-1]}
        assert cols <= {"gram", "doc_id"}, f"unexpected shuffle key: {part}"
    assert len(re.findall(r"Scan parquet|FileScan", plan)) <= 2


def test_cut_dup_spans_rewrite_is_projection_after_join(spark, sf_small):
    """c63: the rewrite itself must be a higher-order projection — no
    Python evals anywhere, one doc_id join back to the corpus."""
    df = all_queries()["c63_cut_dup_spans"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_curation_pipeline_scale_shape(spark, sf_small):
    """c64's contract: zero Python rows, zero cartesians, the held-out
    shingle side broadcast, and every post-checkpoint shuffle keyed on a
    pipeline key (sh / doc_id / source / shard_id) — never on text. The
    dedup subtree is materialized once (localCheckpoint), so no nt
    exchange may appear in the final plan."""
    import re

    df = all_queries()["c64_curation_pipeline"](spark, sf_small)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    hash_parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    for part in hash_parts:
        cols = {c.split("#")[0].strip() for c in part.split(",")[:-1]}
        assert cols <= {"sh", "doc_id", "source", "shard_id"}, part


def test_catalog_plan_hygiene_no_stray_python_or_cartesian(spark, sf_small):
    """Catalog-wide guard: NO decl may plan a Python eval or an unkeyed
    join except the documented whitelist — b11 (the cross-join decl
    itself), b26 (single-row scalar-subquery broadcast), c3/c13/c37
    (broadcast-one-side brute-force/constant joins, the stated design),
    c6_minhash + c19 (the two deliberate Arrow-batched Python paths,
    SURVEY B30). A new operator that quietly plans BatchEvalPython or a
    cartesian fails here before it can ship."""
    ALLOWED = {
        "b11_cross": {"bnlj"},
        "b26_cte": {"bnlj"},
        "c3_cosine_topk": {"bnlj"},
        "c13_knn_all": {"bnlj"},
        "c37_tfidf_top_term": {"bnlj"},
        "c75_bigram_logprob": {"bnlj"},  # 1-row vocab-size scalar attach
        "c79_pmi_collocations": {"bnlj"},  # 1-row corpus-totals attach
        "b51_q22_global_cust": {"bnlj"},  # 1-row global-avg scalar attach
        "b54_q11_value_share": {"bnlj"},  # 1-row global-rollup attach
        "b59_q20_semi_chain": {"bnlj"},  # 1-row mean-qty scalar attach
        "c91_bm25": {"bnlj"},  # 1-row corpus-stats (N, avgdl) attach
        "c6_minhash": {"python"},
        "c19_ivf_knn": {"python"},
        # c94: the deliberate Arrow partial-Gram path (mapInPandas, one
        # BLAS matmul per batch) + 1-row n attach; c95's RETURNED plan is
        # pure JVM (the eigh runs at decl-call time on the model-sized
        # covariance), so it needs no allowance.
        "c94_embedding_covariance": {"python", "bnlj"},
    }
    # Streaming-replay decls EXECUTE a full multi-epoch streaming query
    # inside the decl call and return a plain read of the landed sink —
    # the batch plan inspected here would be an info-free parquet scan,
    # while the call itself costs 4+ micro-batch lifecycles. Their
    # streaming plans are hygiene-covered by their own tests
    # (test_streaming.py / test_stateful_streaming.py) and the oracle
    # parity layer still runs them end-to-end every suite.
    STREAMING_REPLAYS = {
        "c66_streaming_tumbling", "c78_streaming_session",
        "c80_streaming_sliding", "c86_streaming_attribution",
        "c87_streaming_dedup", "c88_streaming_ledger",
        "c89_streaming_upsert",
    }
    violations = {}
    for name, fn in all_queries().items():
        if name in STREAMING_REPLAYS:
            continue
        plan = fn(spark, sf_small)._jdf.queryExecution().sparkPlan().toString()
        tags = set()
        if "EvalPython" in plan:
            tags.add("python")
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            tags.add("bnlj" if "BroadcastNestedLoopJoin" in plan else "cartesian")
        extra = tags - ALLOWED.get(name, set())
        if extra:
            violations[name] = sorted(extra)
    assert not violations, f"undocumented slow-path plans: {violations}"


def test_land_sorted_enables_row_group_skipping(spark, sf_medium, tmp_path):
    """Sort-on-write is a data-skipping index: the same key-bounded query
    over the same rows reads strictly fewer rows from the sorted layout
    (pushed filters prune parquet row groups whose [min, max] band misses
    the key) than from a random layout where every file's band spans the
    whole key space."""
    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.plans.metrics import (
        run_with_metrics,
    )
    from data_engineering_zoomcamp_my_test_spark.sinks.writers import land_sorted
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    ev = load_table(spark, sf_medium, "events")
    key = ev.agg(F.min("user_id")).head()[0]

    sorted_path = str(tmp_path / "sorted")
    random_path = str(tmp_path / "random")
    land_sorted(ev, sorted_path, ["user_id"], n_files=8)
    ev.repartition(8).write.parquet(random_path)  # key spread over all files

    def rows_read(path):
        df = spark.read.parquet(path).filter(F.col("user_id") == key)
        return run_with_metrics(df).get("number of output rows", 0)

    r_sorted, r_random = rows_read(sorted_path), rows_read(random_path)
    assert r_sorted < r_random, (r_sorted, r_random)


def test_chunk_windows_has_no_keyed_shuffle(spark, sf_small):
    """c74 is a pure projection + generate: the only Exchange allowed is
    the CPU-spread round-robin (and none at all when the scan already has
    enough splits) — a hashpartitioning Exchange would mean an accidental
    shuffle in a shuffle-free operator."""
    from data_engineering_zoomcamp_my_test_spark.operators import all_queries

    df = all_queries()["c74_chunk_windows"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Generate" in plan or "explode" in plan.lower(), plan


def test_label_centroid_join_broadcasts(spark, sf_small):
    """c76's centroid table (numClasses x dim rows) must broadcast back to
    the cell table — a shuffle join there would repartition the corpus by
    (label, dim) twice for no reason."""
    from data_engineering_zoomcamp_my_test_spark.operators import all_queries

    df = all_queries()["c76_label_centroid_cosine"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_q13_on_clause_filter_pushed_and_left_join(spark, sf_small):
    """b50: the ON-clause priority filter must reach the orders scan as a
    pushed predicate, and the join must stay LEFT (zero-order customers
    survive with count 0)."""
    df = all_queries()["b50_q13_custdist"](spark, sf_small)
    plan = explain_str(df, "formatted")
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert any("o_orderpriority" in line for line in pushed), pushed
    assert "LeftOuter" in plan or "BuildRight" in plan
    assert "CartesianProduct" not in plan


def test_q22_scalar_broadcast_and_anti_join(spark, sf_small):
    """b51: the global-average scalar joins as a one-row broadcast
    nested loop (never a shuffle), the NOT EXISTS compiles to a LeftAnti
    join, and nothing goes cartesian."""
    df = all_queries()["b51_q22_global_cust"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the one-row scalar
    assert "CartesianProduct" not in plan


def test_q15_fact_aggregation_reused_not_recomputed(spark, sf_small):
    """b52: the per-supplier revenue aggregate feeds BOTH its own global
    max and the final join — the two uses must share ONE materialized
    shuffle stage (AQE exchange reuse; guarded by the explicit
    isnotnull(l_suppkey) that keeps the branches canonical-equal).
    Regression = the fact table scans and aggregates twice."""
    df = all_queries()["b52_q15_top_supplier"](spark, sf_small)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    live = final.split("+- == Initial Plan ==")[0]
    import re

    supp_exchanges = set(
        re.findall(r"Exchange hashpartitioning\(l_suppkey#\d+L", live)
    )
    assert len(supp_exchanges) == 1, supp_exchanges
    assert "ReusedExchange" in final or "ReusedQueryStage" in final


def test_q11_single_fact_shuffle_via_reuse(spark, sf_small):
    """b54: the per-part aggregate and its global rollup share one
    materialized shuffle of the fact table (AQE reuse)."""
    df = all_queries()["b54_q11_value_share"](spark, sf_small)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    live = final.split("+- == Initial Plan ==")[0]
    import re

    part_exchanges = set(
        re.findall(r"Exchange hashpartitioning\(l_partkey#\d+L", live)
    )
    assert len(part_exchanges) == 1, part_exchanges
    assert "ReusedExchange" in final or "ReusedQueryStage" in final


def test_q8_market_share_broadcasts_fixed_dims_only(spark, sf_small):
    """b53: nation (both roles) and region broadcast by hint; the plan
    never degenerates to a cartesian/nested-loop product, and the date
    window is pushed to the orders scan."""
    df = all_queries()["b53_q8_market_share"](spark, sf_small)
    plan = explain_str(df, "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert any("o_orderdate" in line for line in pushed), pushed


def test_q2_catalog_reused_and_joinback_keyed(spark, sf_small):
    """b55: the region-scoped (part, supplier) price catalog feeds BOTH
    the per-part min and the winner join-back — one materialized catalog
    stage (AQE reuse), and the min-equality join-back stays a keyed hash
    join (a theta join would go nested-loop over the catalog)."""
    df = all_queries()["b55_q2_min_cost_supplier"](spark, sf_small)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final or "ReusedQueryStage" in final, final
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final


def test_q9_profit_fixed_dims_broadcast_no_bnlj(spark, sf_small):
    """b56: nation broadcasts by hint; the LIKE-filtered part and the
    growing supplier dim are left to AQE (broadcast while they fit,
    demotable at 100x); nothing goes nested-loop."""
    df = all_queries()["b56_q9_profit_by_nation_year"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q12_date_window_pushed_to_fact_scan(spark, sf_small):
    """b57: the one-year ship-date window must reach the lineitem scan as
    pushed predicates — the join sees a year of lines, not the table —
    while the cross-table l_shipdate > o_orderdate comparison stays a
    post-join filter (not a nested-loop join condition)."""
    df = all_queries()["b57_q12_priority_class"](spark, sf_small)
    plan = explain_str(df, "formatted")
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert any("l_shipdate" in line for line in pushed), pushed
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q16_blacklist_anti_join_broadcasts(spark, sf_small):
    """b58: the NOT IN supplier blacklist compiles to a broadcast
    LeftAnti against the fact side, and the distinct-count runs as the
    two-phase partial/final aggregate (HashAggregate pairs), never a
    cartesian."""
    df = all_queries()["b58_q16_supplier_cnt"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert "LeftAnti" in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_q20_supplier_flows_through_semi_joins_only(spark, sf_small):
    """b59: supplier rows reach the output through LeftSemi joins only —
    the fact join can never duplicate a supplier row (Q20's EXISTS
    guarantee). The one BroadcastNestedLoopJoin is the documented 1-row
    mean-qty scalar attach."""
    df = all_queries()["b59_q20_semi_chain"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert plan.count("LeftSemi") >= 2, plan
    assert "CartesianProduct" not in plan


def test_q21_self_joins_share_orderkey_shuffle(spark, sf_small):
    """b60: the EXISTS and NOT EXISTS fact self-joins both key on
    l_orderkey with the supplier inequality as a residual condition —
    LeftSemi + LeftAnti hash/merge joins, never a nested loop over the
    fact table."""
    df = all_queries()["b60_q21_waiting_suppliers"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_term_list_broadcasts_and_no_cartesian(spark, sf_small):
    """c91: the query-term semi-join and the df/stats attachments must all
    broadcast — the only corpus-sized relation allowed to shuffle is the
    map-side-combined (doc, term) partial count, never the raw token
    stream joined by shuffle, and never a CartesianProduct (the one-row
    stats cross join must plan as a broadcast nested loop)."""
    df = all_queries()["c91_bm25"](spark, sf_small)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pagerank_iteration_plan_is_keyed_joins_no_cartesian(spark, sf_small):
    """c90's loop body (checkpoint=False so the composed plan stays
    inspectable): one iteration = ranks ⋈ edges keyed on src + a
    partial-aggregating sum keyed on dst. No CartesianProduct anywhere;
    the teleport constant attaches via broadcast (one-row N frame)."""
    from data_engineering_zoomcamp_my_test_spark.operators.analytics import (
        pagerank,
    )
    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    li = load_table(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    pr = pagerank(nodes, edges, n_iter=1, checkpoint=False)
    plan = explain_str(pr, "simple")
    assert "CartesianProduct" not in plan, plan
    # the one-row N frame must attach as a broadcast, not a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # partial aggregation before the dst-keyed exchange (map-side combine)
    assert "partial_sum" in plan or "HashAggregate" in plan


def test_array_normalize_hoists_norm_out_of_lambda(spark, sf_small):
    """c38/c39: the per-row norm/scale aggregate must NOT sit inside a
    transform() lambda — Catalyst inlines it there and evaluates it once
    per ELEMENT (O(d^2) per row; measured 3.3x at d=64).  The shipped
    zip_with/array_repeat form evaluates it once per row; a two-step
    projection does NOT pin this (CollapseProject re-inlines it)."""
    for decl in ("c38_l2_normalize", "c39_quantize_int8"):
        df = all_queries()[decl](spark, sf_small)
        plan = explain_str(df, "formatted")
        proj = [
            ln
            for ln in plan.splitlines()
            if "aggregate(" in ln and "lambdafunction" in ln
        ]
        # ADVICE r13: fail loudly if the pattern stops matching (e.g. a
        # future Spark renames the formatted-explain expressions) — a
        # vacuous pass here would let the O(d^2) regression go unnoticed.
        assert proj, (decl, plan)
        for ln in proj:
            assert "transform(" not in ln, (decl, ln)
            assert "array_repeat" in ln or "zip_with" in ln, (decl, ln)


def test_q20_pair_aggregate_materialized_once(spark, sf_small):
    """b59: pair_qty feeds both the mean threshold and the qualifying
    filter; without the lineage cut the executed plan held TWO full
    lineitem scans + two pair aggregates (runtime exchange reuse does
    not fire across the BNLJ's broadcast side — unlike b54/b55)."""
    df = all_queries()["b59_q20_semi_chain"](spark, sf_small)
    df.collect()
    live = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("+- == Initial Plan ==")[0]
    )
    # ADVICE r13: with the eager lineage cut the live plan has ZERO
    # lineitem scans (both consumers read the materialized pair relation);
    # "< 2" would still pass a partial regression that re-scans once.
    assert live.count("lineitem.parquet") == 0, live


def test_lineage_cut_postures(spark, sf_small, monkeypatch):
    """lineage.cut (r14): one policy point for the ~20 shared-relation
    materializations. off = identity plan; local = RDD scan with lineage
    truncated; reliable = reliable checkpoint (survives executor loss),
    installing a fallback checkpoint dir when none is set."""
    from data_engineering_zoomcamp_my_test_spark import lineage

    df = spark.read.parquet(f"{sf_small}/nation.parquet").select("n_nationkey")
    n = df.count()

    monkeypatch.setenv("SPARK_GRAFT_LINEAGE_CUT", "off")
    assert lineage.cut(df) is df

    monkeypatch.setenv("SPARK_GRAFT_LINEAGE_CUT", "local")
    local = lineage.cut(df)
    assert local.count() == n
    assert "Scan ExistingRDD" in explain_str(local, "simple")
    assert local._jdf.queryExecution().analyzed().toString().count("Relation") <= 1

    monkeypatch.setenv("SPARK_GRAFT_LINEAGE_CUT", "reliable")
    rel = lineage.cut(df)
    assert rel.count() == n
    assert "Scan ExistingRDD" in explain_str(rel, "simple")
    assert not spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty()

    monkeypatch.setenv("SPARK_GRAFT_LINEAGE_CUT", "bogus")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lineage.cut(df)


def test_reliable_cut_needs_checkpoint_dir_off_local(monkeypatch):
    """``reliable`` on a non-local master with no checkpoint dir must fail
    loudly: a driver-local temp dir is not reliable storage there. A set
    dir proceeds, and a local master keeps the temp-dir fallback.
    Session-free: the frame is a stub exposing what ``cut`` reads."""
    from types import SimpleNamespace

    from data_engineering_zoomcamp_my_test_spark import lineage

    installed = []
    sc = SimpleNamespace(
        master="spark://head:7077",
        dir=None,
        setCheckpointDir=installed.append,
    )
    sc.getCheckpointDir = lambda: sc.dir
    df = SimpleNamespace(
        sparkSession=SimpleNamespace(sparkContext=sc),
        checkpoint=lambda eager: "checkpointed",
    )
    monkeypatch.setenv("SPARK_GRAFT_LINEAGE_CUT", "reliable")

    with pytest.raises(RuntimeError, match="SparkContext.setCheckpointDir"):
        lineage.cut(df)
    assert installed == []

    sc.dir = "hdfs://nn/ckpt"
    assert lineage.cut(df) == "checkpointed"
    assert installed == []

    sc.master, sc.dir = "local[2]", None
    assert lineage.cut(df) == "checkpointed"
    assert len(installed) == 1


def test_streaming_drop_width_is_byte_derived(spark, sf_small, monkeypatch):
    """VERDICT r13 #2: the replay landing width must derive from source
    bytes (floor = the documented micro-batch minimum, cap = session
    shuffle partitions), not a fixed repartition constant. At test SFs the
    events table is far below one 32 MB chunk, so the width equals the
    floor — the historical drop layout — while a 100 TB source scales."""
    import os

    from data_engineering_zoomcamp_my_test_spark.operators.events import (
        _drop_width,
    )
    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        dir_bytes,
    )

    assert _drop_width(spark, sf_small) == 4
    assert _drop_width(spark, sf_small, floor_n=2) == 2
    # a big source scales the width: force a tiny per-partition target
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITION_BYTES", "1024")
    chunks = -(-dir_bytes(os.path.join(sf_small, "events.parquet")) // 1024)
    # ... capped at the session's shuffle-partition setting, which the
    # micro-batch floor overrides when the setting sits below it
    session_sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert chunks > max(4, session_sp), "source too small to exercise the cap"
    assert _drop_width(spark, sf_small) == max(4, session_sp)


@pytest.mark.parametrize("bad", ["0", "-1", "many"])
def test_stream_partition_bytes_rejects_non_positive(
    spark, tmp_path, monkeypatch, bad
):
    """The streaming width target divides the source bytes: anything but a
    positive integer must raise a ValueError naming the variable, on both
    the landing and the replay side, instead of a bare ZeroDivisionError
    or a silent clamp."""
    from data_engineering_zoomcamp_my_test_spark.operators.events import (
        _drop_width,
    )
    from data_engineering_zoomcamp_my_test_spark.streaming.windows import (
        _replay_shuffle_partitions,
    )

    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITION_BYTES", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_PARTITION_BYTES"):
        _drop_width(spark, str(tmp_path))
    with pytest.raises(ValueError, match="SPARK_GRAFT_STREAM_PARTITION_BYTES"):
        _replay_shuffle_partitions(spark, str(tmp_path))


def test_no_fixed_width_repartition_constants_in_query_paths():
    """VERDICT r13 #2 'done' condition: grep-clean of repartition(<int>)
    in every operator/streaming module (scale-adaptive widths only)."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "data_engineering_zoomcamp_my_test_spark"
    )
    offenders = []
    for py in pkg.rglob("*.py"):
        for i, ln in enumerate(py.read_text().splitlines(), 1):
            if re.search(r"\.repartition\(\s*\d+\s*[,)]", ln):
                # `# bounded-input:` marks widths on provably small
                # relations (e.g. the CC small-graph arm, gated on a
                # measured node count) — a deliberate choice, not a
                # scale constant on a fact table.
                if "# bounded-input:" in ln:
                    continue
                offenders.append(f"{py.name}:{i}: {ln.strip()}")
    assert not offenders, offenders


# VERDICT r13 #1: per-headliner plan-posture pins, so a REAL plan
# regression in the driver-benched set is detectable without wall clock
# (the r13 bench drifted 0.65x on 14 untouched queries under 2.4% steal;
# these pins are what lets a future round adjudicate noise vs regression
# from artifacts alone). Ceilings/sets taken from plans/r14/*_before.txt.
_HEADLINER_POSTURE = {
    # name: (max Exchange substrings, required joins, forbidden joins,
    #        required plan markers)
    "b3_groupby_agg": (4, set(), {"SortMergeJoin", "CartesianProduct"}, ()),
    "b7_join_multiway": (20, {"BroadcastHashJoin", "SortMergeJoin"},
                         {"CartesianProduct", "BroadcastNestedLoopJoin"}, ()),
    "b10_join_range": (6, {"BroadcastHashJoin"},
                       {"CartesianProduct", "SortMergeJoin"}, ()),
    "b14_win_rank": (2, set(), {"SortMergeJoin"}, ("WindowGroupLimit",)),
    "b16_win_frame": (2, set(), {"SortMergeJoin"},
                      ("LessThan(l_shipdate",)),
    "b18_topk": (2, set(), {"SortMergeJoin"}, ("TakeOrderedAndProject",)),
    "c1_dedup_exact": (2, set(), {"SortMergeJoin"}, ()),
    "c3_cosine_topk": (4, {"BroadcastNestedLoopJoin"}, {"CartesianProduct"},
                       ("WindowGroupLimit",)),
    "c5_text_stats": (4, set(), {"SortMergeJoin"}, ()),
    "c7_tumbling": (4, set(), {"SortMergeJoin"}, ()),
    "c9_session": (2, set(), {"SortMergeJoin"}, ()),
    "c10_json_extract": (0, set(), {"SortMergeJoin"}, ()),
    "c23_asof_join": (2, set(), {"SortMergeJoin", "CartesianProduct"}, ()),
    "c33_minhash_jvm": (2, set(), {"SortMergeJoin"}, ()),
    "c34_rolling_1h": (2, set(), {"SortMergeJoin"}, ()),
    "c37_tfidf_top_term": (16, {"BroadcastHashJoin"}, {"CartesianProduct"},
                           ()),
}

_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")


def test_bench_headliner_plan_posture(spark, sf_small):
    """Every driver-benched headliner keeps its plan shape: Exchange count
    at or under the r14 ceiling, the join strategies it was tuned for, no
    Python boundary nodes, and its query-specific markers (window group
    limit, top-k as TakeOrderedAndProject, the shipdate scan filter)."""
    queries = all_queries()
    failures = []
    for name, (max_exch, req, forbid, markers) in _HEADLINER_POSTURE.items():
        plan = explain_str(queries[name](spark, sf_small), "formatted")
        joins = {j for j in _JOIN_NODES if j in plan}
        if plan.count("Exchange") > max_exch:
            failures.append(f"{name}: {plan.count('Exchange')} Exchanges "
                            f"> pinned {max_exch}")
        if not req <= joins:
            failures.append(f"{name}: missing joins {req - joins}")
        if joins & forbid:
            failures.append(f"{name}: forbidden joins {joins & forbid}")
        for m in markers:
            if m not in plan:
                failures.append(f"{name}: marker {m!r} absent")
        for py_node in ("BatchEvalPython", "ArrowEvalPython"):
            if py_node in plan:
                failures.append(f"{name}: {py_node} in plan")
    assert not failures, "\n".join(failures)


def test_c18_hot_block_salted_join(spark, sf_small, monkeypatch):
    """VERDICT r13 #3: the exact label-blocked pairwise cosine must join
    on (block, salt) — salt = pmod(xxhash64(vec_id), ceil(n/target)) on
    one side, replicated via explode(sequence(...)) on the other — so a
    hot block's per-task work is bounded by the salt target instead of
    O(block^2). Pin the plan shape AND pair-set equivalence on a skewed
    synthetic block (tiny target => k>1 actually engages locally)."""
    from data_engineering_zoomcamp_my_test_spark.operators.similarity import (
        _exact_blocked_neardup,
    )

    df = all_queries()["c18_embed_neardup"](spark, sf_small)
    plan = explain_str(df, "formatted")
    assert "xxhash64(vec_id" in plan, "salt projection missing"
    assert "explode(sequence(0" in plan, "replicate explode missing"

    # skewed synthetic: ONE block of 600 vectors, d=8
    emb = spark.range(600).select(
        F.col("id").alias("vec_id"),
        F.lit("hot").alias("label"),
        F.expr(
            "transform(sequence(1,8), "
            "j -> cast(pmod(hash(id, j), 100) as double)/100.0)"
        ).alias("embedding"),
    )
    monkeypatch.setenv("SPARK_GRAFT_BLOCK_SALT_ROWS", "1000000000")
    base = set(
        map(tuple, _exact_blocked_neardup(emb, 0.9, "label").collect())
    )
    monkeypatch.setenv("SPARK_GRAFT_BLOCK_SALT_ROWS", "64")
    salted = set(
        map(tuple, _exact_blocked_neardup(emb, 0.9, "label").collect())
    )
    assert salted == base and base, (len(base), len(salted))


@pytest.mark.parametrize("bad", ["0", "-1", "many"])
def test_block_salt_rows_rejects_non_positive(spark, monkeypatch, bad):
    """A salt target that is not a positive integer must fail loudly: a
    zero or negative bucket count would drop every right-side row and
    return an empty pair set."""
    from data_engineering_zoomcamp_my_test_spark.operators.similarity import (
        _exact_blocked_neardup,
    )

    emb = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.lit("hot").alias("label"),
        F.array(F.lit(1.0), F.col("id").cast("double")).alias("embedding"),
    )
    monkeypatch.setenv("SPARK_GRAFT_BLOCK_SALT_ROWS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_BLOCK_SALT_ROWS"):
        _exact_blocked_neardup(emb, 0.9, "label")


@pytest.mark.parametrize("bad", ["0", "-1", "many"])
def test_cpus_knob_rejects_non_positive(monkeypatch, bad):
    """The default parallelism sizes the local master and the shuffle width:
    anything but a positive integer must raise a ValueError naming the
    variable, not start a session on a nonsense core count."""
    from data_engineering_zoomcamp_my_test_spark.session import (
        _default_parallelism,
    )

    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        _default_parallelism()


def test_warm_headline_round_reuses_generated_code(spark, sf_small):
    """Spark keeps generated classes in one JVM-wide LRU of
    ``spark.sql.codegen.cache.maxEntries`` entries. At the default 100 a
    round over the 16 headliners (~154 classes) evicts each class before
    its next use and recompiles ~140 of them every warm round; sized to
    the catalog's working set, a second round compiles almost nothing.
    What it still compiles are AQE plan variants that b7 and c37 meet now
    and then: 0-6 classes a round over 10 sampled warm rounds at sf0.001,
    never more than 4 from either query, so 8 bounds both at once."""
    import bench

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048"
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    compiled = metrics.METRIC_COMPILATION_TIME()
    queries = all_queries()

    def headline_round():
        for name in bench.BENCH_QUERIES:
            queries[name](spark, sf_small).count()

    headline_round()
    before = compiled.getCount()
    headline_round()
    assert compiled.getCount() - before <= 8


@pytest.mark.parametrize("bad", ["0", "0g", "-1g", "1.5g", "3x", "g", "four"])
def test_driver_memory_knob_rejects_bad_sizes(monkeypatch, bad):
    """A driver heap that is not a positive whole JVM size must raise a
    ValueError naming the variable, not fail JVM launch opaquely."""
    from data_engineering_zoomcamp_my_test_spark.session import (
        _default_driver_memory,
    )

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        _default_driver_memory()


@pytest.mark.parametrize("good", ["3g", "512m", "2048", "4G", "1gb", "64k"])
def test_driver_memory_knob_passes_valid_sizes_through(monkeypatch, good):
    from data_engineering_zoomcamp_my_test_spark.session import (
        _default_driver_memory,
    )

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", good)
    assert _default_driver_memory() == good


@pytest.mark.parametrize("bad", ["bogus", "on", "local2", "reliable,off"])
def test_lineage_cut_knob_rejects_unknown_modes(monkeypatch, bad):
    """Every unknown posture raises a ValueError naming the variable and
    the accepted modes; blank, unset and any casing of a mode are read
    the same way as before."""
    from types import SimpleNamespace

    from data_engineering_zoomcamp_my_test_spark import lineage

    df = SimpleNamespace(localCheckpoint=lambda eager: "local")
    monkeypatch.setenv("SPARK_GRAFT_LINEAGE_CUT", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_LINEAGE_CUT=.*local, reliable, off"):
        lineage.cut(df)
    for same in ("", "  ", " LOCAL "):
        monkeypatch.setenv("SPARK_GRAFT_LINEAGE_CUT", same)
        assert lineage.cut(df) == "local"
    monkeypatch.delenv("SPARK_GRAFT_LINEAGE_CUT")
    assert lineage.cut(df) == "local"


def test_env_reads_go_through_typed_readers():
    """The package reads environment variables only in session.py's typed
    readers and in cli.py's argparse defaults: every other knob goes
    through one of those readers, so a bad value fails loudly."""
    import ast
    import pathlib

    import data_engineering_zoomcamp_my_test_spark as pkg

    allowed = {
        ("session.py", "env_positive_int"),
        ("session.py", "env_choice"),
        ("session.py", "env_jvm_size"),
        ("cli.py", "build_parser"),
    }
    env_names = {"environ", "environb", "getenv"}

    class EnvReads(ast.NodeVisitor):
        def __init__(self, path):
            self.path, self.scope, self.found = path, ["<module>"], set()

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def _hit(self, name):
            if name in env_names:
                self.found.add((self.path, self.scope[-1]))

        def visit_Attribute(self, node):
            self._hit(node.attr)
            self.generic_visit(node)

        def visit_Name(self, node):
            self._hit(node.id)

        def visit_alias(self, node):
            self._hit(node.name)

    root = pathlib.Path(pkg.__file__).parent
    found = set()
    for py in sorted(root.rglob("*.py")):
        v = EnvReads(str(py.relative_to(root)))
        v.visit(ast.parse(py.read_text()))
        found |= v.found
    assert found - allowed == set(), sorted(found - allowed)
    assert ("session.py", "env_jvm_size") in found
