"""Advanced analytics operators: as-of join, native session windows, exact
percentiles, histograms, pivot/unpivot, deterministic sampling.

These extend the engine beyond the reference's SQL-passthrough surface with
the patterns large-scale event/training-data pipelines actually run. Every
operator is a pure DataFrame/SQL composition (no UDFs), so Catalyst plans and
whole-stage codegen apply end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.exprs import MONEY_SUM_VALUE, dmoney_sum, money
from ..lineage import cut as lineage_cut
from ..sources.tables import load_table


def asof_join_last_event(
    ev: DataFrame, match_type: str = "purchase"
) -> DataFrame:
    """As-of join (self, per user): attach to every event the id/time of the
    user's most recent *strictly prior* event of ``match_type``.

    Spark has no native ASOF JOIN; the window formulation (last non-null over
    an unbounded-to-1-preceding frame) computes it in one sort per partition
    — no join at all, which beats the union-merge trick and is exactly how
    an as-of against the same stream should run at scale."""
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    marker_id = F.when(F.col("event_type") == match_type, F.col("event_id"))
    marker_ts = F.when(
        F.col("event_type") == match_type, F.unix_micros("ts")
    )
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(marker_id, ignorenulls=True).over(w).alias("last_purchase_id"),
        F.last(marker_ts, ignorenulls=True).over(w).alias("last_purchase_ts_us"),
    )


def c23_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_join_last_event(load_table(spark, sf_dir, "events"))


def c9b_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` sessionization — cross-validated against
    the LAG-gap-cumsum formulation (the oracle): same sessions, with the
    window's end = last event + gap."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
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


def c24_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per group. At 100 TB swap
    ``percentile`` for ``percentile_approx`` (t-digest, mergeable) — kept
    exact here because the oracle checks values.

    Interpolated points are published at the repo's 6-decimal output
    grain (r7, same contract as c82's winsor bands): the raw interpolated
    value is NOT bit-portable across engines — the parameter fuzzer
    measured a one-ulp Spark-vs-DuckDB split at p99 over 1M rows
    (230.53 vs 230.53000000000003), the same interpolation-formula ulp
    class the r6 c82 bug belonged to. v_min/v_max stay raw — no
    interpolation, exact in both engines.

    Why ROUND(., 6) itself is portable here even though round() sits in
    the fuzzer dialect's gray zone (exact .5e-6 ties DO diverge —
    measured: round(1.0000025, 6) is 1.000003 on Spark, 1.000002 on
    DuckDB): ties are unreachable for this operator's inputs. Money-grain
    (2-decimal) values interpolated at frac = k*0.05 have true values on
    a 5e-4 grid, 5e-7 from the nearest .5e-6 tie, while the computed
    double is within ~1e-8 of the grid point — both engines always see a
    value strictly on the same side of every tie, where HALF_UP and
    HALF_EVEN agree. Pinned with planted ties and perturbed grid values
    in tests/test_tools.py::
    test_round_tie_divergence_pinned_and_money_grain_safe."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
        .orderBy("event_type")
    )


def c25_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram via floor arithmetic (portable to any
    SQL engine; one partial-aggregated shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 50).cast("bigint")
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dmoney_sum(money("value"), "bucket_sum"),
        )
        .orderBy("bucket")
    )


def b31_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order status into columns per priority bucket."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(money("o_totalprice")).cast("double"))
        .orderBy("o_orderpriority")
    )


def b32_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide aggregates back into long form."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        dmoney_sum(money("o_totalprice"), "total"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    return wide.unpivot(
        ["o_orderpriority"], ["total", "n_orders"], "measure", "val"
    )


def b37_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status x priority (all grouping-set combinations)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dmoney_sum(money("o_totalprice"), "total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def b38_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode with ordinality: tokens of short documents with
    their 1-based position."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") < 200)
    return docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok")


def c34_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling 1-hour event count/sum (RANGE frame over event time)
    — the time-series rollup shape. Range frames shuffle once on user and
    sort by time; state is bounded by the frame width."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    w = (
        W.partitionBy("user_id")
        .orderBy(ts_us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        ts_us.alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
        F.sum(money("value")).over(w).cast("double").alias("value_1h"),
    )


def _estimate_max_group_rows(
    df: DataFrame, group_col: str, sample_target: int = 1_000_000
) -> int:
    """Sample-based hot-key probe: estimated row count of the LARGEST
    group. Two bounded jobs (a column-pruned count + a ~``sample_target``
    -row sampled frequency count) — the operator-level analogue of
    stats-based planning, same pattern as dedup's ``_has_exact_copies``.
    A group hot enough to matter (>= ~1M rows) is oversampled thousands
    of times at this sample size, so the estimate cannot miss it."""
    total = df.count()
    if total == 0:
        return 0
    fraction = min(1.0, sample_target / total)
    sample = df.sample(fraction=fraction, seed=7) if fraction < 1.0 else df
    mx = (
        sample.groupBy(group_col).count().agg(F.max("count")).head()[0] or 0
    )
    return int(mx / fraction)


def top_k_per_group_agg(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tiebreak_col: str,
    k: int,
    n_salt: int | None = None,
    hot_group_rows: int = 1_000_000,
) -> DataFrame:
    """Exact top-k per group with **stats-probed physical strategy**
    (r5: measured at sf10 — max group 24 rows, salted agg 60 s, window
    plan 21 s; salting is pure overhead unless a group is actually hot):

    - **Window arm** (default when the probe finds no hot group):
      ``row_number() OVER`` with the rank filter adjacent, which Spark
      3.5+ rewrites to WindowGroupLimit — each map task keeps only its
      local top-k per group BEFORE the shuffle, so state is bounded at k
      and the per-group sort touches only surviving rows. The right plan
      whenever no single group can blow a reducer.
    - **Salted-agg arm** (probe estimates a group >= ``hot_group_rows``,
      or an explicit ``n_salt`` forces it): two-phase aggregation keyed
      on (group, salt). A hot group's rows spread across ``n_salt``
      reducers, so per-reducer aggregation state is O(group size /
      n_salt); stage 2 merges at most ``n_salt * k`` survivors per group.
      Unlike the window plan, no single reducer ever holds a whole hot
      group — the 100 TB skew arm (WindowGroupLimit still routes ALL of
      a group's surviving rows to one reducer).

    Both arms produce identical rows (exact 2-decimal DECIMAL ordering,
    deterministic (order, tiebreak) comparator); the c40 oracle is the
    window formulation, so parity is arm-invariant by construction."""
    if n_salt is None:
        est_max = _estimate_max_group_rows(df, group_col)
        if est_max < hot_group_rows:
            rn = F.row_number().over(
                W.partitionBy(group_col).orderBy(
                    money(order_col).desc(), F.col(tiebreak_col)
                )
            )
            return (
                df.withColumn("rn", rn)
                .filter(F.col("rn") <= k)
                .select(
                    group_col,
                    tiebreak_col,
                    order_col,
                    F.col("rn").cast("int").alias("rn"),
                )
            )
        n_salt = min(64, max(2, -(-2 * est_max // hot_group_rows)))
    item = F.struct(
        (-money(order_col)).alias("_neg"),
        F.col(tiebreak_col).alias("_tb"),
        F.col(order_col).alias("_v"),
    )
    salt = F.pmod(F.xxhash64(F.col(tiebreak_col)), F.lit(n_salt))
    stage1 = (
        df.withColumn("_salt", salt)
        .groupBy(group_col, "_salt")
        .agg(F.slice(F.sort_array(F.collect_list(item)), 1, k).alias("_top"))
    )
    return (
        stage1.groupBy(group_col)
        .agg(
            F.slice(
                F.sort_array(F.flatten(F.collect_list("_top"))), 1, k
            ).alias("_top")
        )
        .select(group_col, F.posexplode("_top").alias("_pos", "_it"))
        .select(
            group_col,
            F.col("_it._tb").alias(tiebreak_col),
            F.col("_it._v").alias(order_col),
            (F.col("_pos") + 1).cast("int").alias("rn"),
        )
    )


def c40_topk_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as b14_win_rank (top-3 orders per customer), different
    physical strategy — the oracle is the window formulation, proving the
    aggregate-based plan preserves semantics exactly."""
    orders = load_table(spark, sf_dir, "orders")
    return top_k_per_group_agg(orders, "o_custkey", "o_totalprice", "o_orderkey", 3)


def c41_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted average: decimal-accumulated sum(w*x)/sum(w)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = money("l_quantity")
    wx = w * money("l_discount")
    return (
        li.groupBy("l_returnflag")
        .agg(
            (F.sum(wx).cast("double") / F.sum(w).cast("double")).alias(
                "qty_weighted_disc"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


def b42_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (SQL FILTER clause / sum-of-CASE)."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", money("o_totalprice"))
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_all"),
            F.count(urgent).alias("n_urgent"),
            F.coalesce(F.sum(urgent).cast("double"), F.lit(0.0)).alias("urgent_total"),
        )
        .orderBy("o_orderstatus")
    )


def c55_asof_two_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-stream AS-OF join: each view gets the user's most recent
    purchase at-or-before it. Spark lacks a native ASOF JOIN, so this is
    the union-merge formulation — tag both streams, one total-ordered
    window per user (purchases sort before views at equal timestamps, so
    'at-or-before' is inclusive), last-non-null carries the purchase
    forward. One shuffle on user; no range join, no driver work. The
    oracle is DuckDB's NATIVE ``ASOF LEFT JOIN`` — two genuinely different
    algorithms, hash-compared. Purchases are deduped to one per (user, ts)
    first in both engines so tie behavior is engine-independent."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.unix_micros("ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", ts_us.alias("ts_us"))
        .agg(F.max("event_id").alias("purchase_id"))
        .select(
            "user_id",
            "ts_us",
            F.lit(0).alias("tag"),
            "purchase_id",
            F.lit(None).cast("long").alias("view_id"),
        )
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        ts_us.alias("ts_us"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.col("event_id").alias("view_id"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "tag", "view_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = purchases.unionByName(views).select(
        "view_id",
        "user_id",
        F.col("ts_us").alias("v_ts_us"),
        F.last("purchase_id", ignorenulls=True).over(w).alias("purchase_id"),
        F.last(
            F.when(F.col("tag") == 0, F.col("ts_us")), ignorenulls=True
        ).over(w).alias("p_ts_us"),
        "tag",
    )
    return merged.filter(F.col("tag") == 1).drop("tag")


def c53_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of c24: percentile_approx builds mergeable
    t-digest-style sketches in partial aggregation, so quantiles cost one
    shuffle of fixed-size sketches instead of a global sort — rows-only
    checked (sketch values are engine-specific); accuracy vs the exact
    percentiles is bounded in tests/test_properties.py."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 10_000).alias("p50_approx"),
            F.percentile_approx("value", 0.95, 10_000).alias("p95_approx"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def c54_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (sampleBy): per-stratum Bernoulli fractions with
    a fixed seed — the class-balancing primitive for training mixes. Seeded
    and deterministic within Spark but engine-specific, so rows-only
    checked; per-stratum rates are tolerance-bounded in
    tests/test_properties.py."""
    ev = load_table(spark, sf_dir, "events")
    fractions = {"view": 0.1, "click": 0.5, "purchase": 1.0}
    sampled = ev.sampleBy("event_type", fractions, seed=42)
    return sampled.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_sampled"))


def stratified_sample_exact(
    docs: DataFrame,
    stratum_col: str,
    fraction: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT deterministic stratified sample — the oracle-checkable member
    of the sampling family (c54's seeded Bernoulli is engine-specific and
    rows-only by design): per stratum, take exactly ceil(fraction * n)
    rows in content-hash order (md5 of the id, id tiebreak — the same
    admission-order contract as c49/c50). Same rows on any engine,
    cluster, partitioning, or run; per-stratum counts are exact, not
    expected values. One window per stratum; no Python, no RNG."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    wall = Window.partitionBy(stratum_col)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wall))
        .filter(F.col("_rn") <= F.ceil(F.col("_n") * F.lit(fraction)))
        .drop("_rn", "_n")
    )


def c73_stratified_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% exact deterministic sample per source over documents."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample_exact(docs, "source", 0.1).select(
        "doc_id", "source"
    )


def c52_salted_hot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew machinery in the verified path: two-phase salted
    aggregation (operators/skew.py) over the low-cardinality, hot
    ``event_type`` key — phase 1 shuffles on (key, salt) so a 90%-hot key
    spreads over 16 reducers; phase 2 merges tiny partials. The oracle is
    the plain GROUP BY: salting must be a pure physical rewrite."""
    from .skew import salted_aggregate

    ev = load_table(spark, sf_dir, "events")
    return salted_aggregate(ev, "event_type", money("value"), n_salts=16)


def b43_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond ROLLUP/CUBE): a custom lattice of
    aggregation levels in one pass, with grouping() flags disambiguating
    real NULLs from subtotal rows."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        """
    )


def group_trend(ev: DataFrame) -> DataFrame:
    """Per-group OLS trend (slope of value over days) with EXACT
    distributed accumulators: x is an integer day index, y accumulates in
    DECIMAL, so every sufficient statistic (n, Sx, Sxx, Sy, Sxy) is exact
    on ANY partitioning — unlike a double-moment ``regr_slope``, whose
    partial sums are order-dependent at the ulp. The slope combines the
    exact sums in scalar double arithmetic at the very end (one
    deterministic expression per group), so answers are reproducible on 1
    or 1000 executors — the b3 money-sum discipline applied to
    regression.

    Plan: one keyed partial-aggregated groupBy over events; everything
    after it is per-group scalar math on a numClasses-row table."""
    x = F.floor(
        F.unix_micros("ts") / F.lit(86_400_000_000.0)
    ).cast("long")
    agg = (
        ev.select(
            "event_type", x.alias("x"), money("value").alias("y")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("_sx"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("_sxx"),
            F.sum("y").alias("_sy"),
            F.sum(F.col("x").cast("decimal(18,2)") * F.col("y")).alias("_sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("_sx").cast("double")
    sxxd = F.col("_sxx").cast("double")
    syd = F.col("_sy").cast("double")
    sxyd = F.col("_sxy").cast("double")
    slope = (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
    return agg.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_per_day"),
        F.round((syd - slope * sxd) / nd, 6).alias("intercept"),
    ).orderBy("event_type")


def c81_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily value trend per event type, exact accumulators."""
    return group_trend(load_table(spark, sf_dir, "events"))


def winsorize(
    ev: DataFrame, lo: float = 0.05, hi: float = 0.95
) -> DataFrame:
    """Group-wise winsorization: clip ``value`` into its group's exact
    [p_lo, p_hi] percentile band — the standard outlier treatment before
    mean-based statistics (vs dropping rows, which biases counts). Exact
    interpolated percentiles (same definition both engines), clip via
    least/greatest, 6-decimal grain on the clipped value.

    ``was_clipped`` is defined at the SAME 6-decimal grain as the clipped
    value (``round(value,6) != round(clip,6)``), not as a strict
    comparison against the raw interpolated bound: the interpolation
    ``lo + (hi-lo)*frac`` is evaluated in floating point, so two engines
    can disagree by one ulp on the bound itself, and a data value landing
    EXACTLY on the band edge then flips a strict ``<`` across engines
    (observed at sf1: 9 of 1M rows with value == p5 band edge 2.52).
    Rounding both sides to the output grain makes the flag a pure
    function of the published columns.

    **Contract note (behavior change, round 6):** this is a published-
    semantics change, not only a determinism fix — a value exceeding the
    winsor band by less than 5e-7 now reports ``was_clipped = false``
    (it is unchanged at the 6-decimal output grain). Callers counting
    clipped rows under the strict-bound definition will see (marginally)
    different totals; the output-grain definition is the supported
    contract because it is the only one reproducible across engines.

    Plan: one keyed percentile aggregate per group (tiny result,
    broadcast back) + a corpus-sized projection. The percentile fit sorts
    only within the bounded per-group aggregate, not the whole corpus."""
    bands = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(lo)).alias("_plo"),
        F.percentile("value", F.lit(hi)).alias("_phi"),
    )
    clip6 = F.round(
        F.least(F.greatest(F.col("value"), F.col("_plo")), F.col("_phi")), 6
    )
    return (
        ev.join(F.broadcast(bands), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            clip6.alias("value_winsorized"),
            (F.round(F.col("value"), 6) != clip6).alias("was_clipped"),
        )
    )


def c82_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip event values into each type's exact [p5, p95] band."""
    return winsorize(load_table(spark, sf_dir, "events"))


def orphan_audit(
    left: DataFrame, right: DataFrame, lkey: str, rkey: str
) -> DataFrame:
    """Cross-table referential-integrity audit: counts of matched keys
    and of orphans on each side — the check a multimodal pipeline runs
    before training to prove the text table and the embedding table
    actually line up (a silent partial join is the classic way to train
    on half a corpus). One full-outer keyed join, distinct keys first so
    duplicated keys can't inflate the counts; single-row summary out."""
    lk = left.select(F.col(lkey).alias("k")).distinct()
    rk = right.select(F.col(rkey).alias("k")).distinct()
    j = lk.withColumn("_l", F.lit(1)).join(
        rk.withColumn("_r", F.lit(1)), "k", "full"
    )
    return j.agg(
        F.sum(
            F.when(F.col("_l").isNotNull() & F.col("_r").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_matched"),
        F.sum(F.when(F.col("_r").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_left_orphans"),
        F.sum(F.when(F.col("_l").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_right_orphans"),
    )


def c83_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.doc_id vs embeddings.vec_id alignment audit."""
    return orphan_audit(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        "doc_id",
        "vec_id",
    )


def c42_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample correlation & covariance per group (rounded — engines
    accumulate moments differently at the last ulp)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("qty_disc_cov"),
        )
        .orderBy("l_returnflag")
    )


def grouped_zscore(ev: DataFrame) -> DataFrame:
    """Per-group z-score via ``applyInPandas`` — the grouped-map UDF surface
    (B30): each group arrives as one pandas DataFrame, Arrow both ways.
    Statistically identical to the window formulation; exists to exercise
    the escape hatch used when per-group logic isn't expressible in SQL."""
    import pandas as pd

    def z(pdf: pd.DataFrame) -> pd.DataFrame:
        # Deterministic accumulation order: rows arrive in partition order,
        # which varies with cluster layout; float mean/std are
        # order-sensitive at the last ulp.
        pdf = pdf.sort_values("event_id")
        m = pdf["value"].mean()
        s = pdf["value"].std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "zscore": ((pdf["value"] - m) / s).round(6),
            }
        )

    return ev.groupBy("event_type").applyInPandas(
        z, schema="event_id long, event_type string, zscore double"
    )


def c35_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return grouped_zscore(load_table(spark, sf_dir, "events"))


def c26_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sample (key-mod): reproducible across
    engines and partitionings, unlike ``df.sample`` (seeded per-partition).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") % 20 == 0).select(
        "event_id", "user_id", "event_type", "value"
    )


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-quality profile in long form: per column, row/null/distinct
    counts. One pass per metric family over a single aggregate row, then
    unpivoted — not one job per column."""
    agg_exprs = []
    for c in cols:
        agg_exprs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    wide = df.agg(*agg_exprs)
    parts = None
    for c in cols:
        row = wide.select(
            F.lit(c).alias("col_name"),
            F.col(f"{c}__n").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_null"),
            F.col(f"{c}__distinct").alias("n_distinct"),
        )
        parts = row if parts is None else parts.unionAll(row)
    return parts


def c32_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return profile_table(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    )


PAGERANK_DAMPING = 0.85
PAGERANK_ITER = 8


def pagerank(
    nodes: DataFrame | None,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = PAGERANK_ITER,
    damping: float = PAGERANK_DAMPING,
    complete_inbound: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank (Page et al. 1999) as an iterative
    DataFrame computation — the catalog's second iterative-graph operator
    after connected components (dedup.connected_components_star).

    r_{i+1}(v) = (1-d)/N + d * SUM_{(u,v) in E} r_i(u) / outdeg(u)

    Per iteration: ONE shuffle join (ranks ⋈ edges on src — edges carry
    their outdeg from a pre-loop join, so the loop body is join + one
    dst-keyed partial-aggregating shuffle). ``localCheckpoint`` truncates
    the lineage each round, exactly like the CC operator — without it the
    plan depth grows linearly and re-executes every prior round. Edges,
    nodes, and the one-row N count are each checkpointed ONCE before the
    loop so the (possibly expensive) edge/node derivations never re-run
    per iteration — the loop body joins nodes and broadcasts N every
    round, so an uncut nodes lineage would re-execute n_iter times. N
    reaches every row as a broadcast one-row cross join, not a
    driver-collected literal.

    Nodes with no inbound edges get the teleport mass (1-d)/N via the
    left join + coalesce(0); dangling-node mass is NOT redistributed
    (no out-edges ⇒ their rank leaks) — callers wanting classic
    dangling handling pass a symmetric edge set, where dangling nodes
    cannot exist. Fixed iteration count (not convergence-tested) keeps
    the result deterministic and oracle-expressible.

    ``SPARK_GRAFT_LINEAGE_CUT=off`` skips the lineage cuts so the
    composed iteration PLAN stays inspectable (plan-posture tests).

    r13 optimizations (result-identical, measured 1.4x at sf0.1):

    - ``edges`` is cut FIRST, before anything derives from it: deg, eout
      and (for ``nodes=None`` callers) the vertex set all branch off the
      materialized edge relation, so the possibly-expensive edge
      derivation (the decl's lineitem self-join + distinct) executes
      exactly once instead of once per pre-loop checkpoint job.
    - ``nodes=None`` derives the vertex set as DISTINCT src of the cut
      edges — the caller passing ``edges.select(src).distinct()`` built
      from the *uncut* plan would silently re-run the derivation.
    - ``complete_inbound=True`` (caller-asserted: every node has at
      least one inbound edge, e.g. any symmetric edge set) replaces the
      per-iteration ``nodes LEFT JOIN sums`` + coalesce with a direct
      projection of ``sums`` — one fewer node-keyed shuffle join per
      iteration, same values (the left join's null arm is unreachable
      when every node receives a contribution).
    """
    edges = lineage_cut(edges)
    if nodes is None:
        nodes = edges.select(F.col(src_col).alias(node_col)).distinct()
    # Checkpoint nodes BEFORE anything else derives from it: the loop body
    # (in the default arm) joins against nodes every iteration, so an uncut
    # nodes lineage would re-execute n_iter times.  n_row is likewise cut so
    # the broadcast count is a materialized one-row scan, not a
    # per-iteration re-aggregation of the node relation.
    nodes = lineage_cut(nodes)
    n_row = lineage_cut(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
    deg = edges.groupBy(src_col).agg(F.count(F.lit(1)).alias("outdeg"))
    eout = lineage_cut(edges.join(deg, src_col))
    teleport = 1.0 - damping
    ranks = lineage_cut(
        nodes.crossJoin(F.broadcast(n_row))
        .select(node_col, (F.lit(1.0) / F.col("n_nodes")).alias("rank"))
    )
    for _ in range(n_iter):
        contribs = eout.join(
            ranks.withColumnRenamed(node_col, src_col), src_col
        ).select(
            F.col(dst_col).alias(node_col),
            (F.col("rank") / F.col("outdeg")).alias("contrib"),
        )
        sums = contribs.groupBy(node_col).agg(F.sum("contrib").alias("s"))
        if complete_inbound:
            ranks = lineage_cut(
                sums.crossJoin(F.broadcast(n_row)).select(
                    node_col,
                    (
                        F.lit(teleport) / F.col("n_nodes")
                        + F.lit(damping) * F.col("s")
                    ).alias("rank"),
                )
            )
        else:
            ranks = lineage_cut(
                nodes.join(sums, node_col, "left")
                .crossJoin(F.broadcast(n_row))
                .select(
                    node_col,
                    (
                        F.lit(teleport) / F.col("n_nodes")
                        + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
    return ranks


def pagerank_copurchase(
    spark: SparkSession,
    sf_dir: str,
    n_iter: int = PAGERANK_ITER,
    damping: float = PAGERANK_DAMPING,
) -> DataFrame:
    """PageRank over the part co-purchase graph: parts are nodes, with an
    edge whenever two distinct parts appear in the same order (lineitem
    self-join on l_orderkey, both directions, deduped). The graph is
    symmetric by construction, so every node has out-edges (no dangling
    mass) and the vertex set is exactly DISTINCT src.

    Scale posture: the self-join is keyed on l_orderkey (pairs per order
    are O(items_per_order²) — bounded by order size, never corpus size);
    the fixed iterations each shuffle the edge relation once on src and
    the contribution sums once on dst. Float sums differ across partition
    orders at the last ulp, so the contract rounds to 6 decimals — same
    convention as c37/c42/c69.

    r13: ``nodes=None`` lets pagerank() derive the vertex set from its
    once-materialized edge relation (previously the nodes checkpoint
    re-ran the full self-join), and the symmetric-by-construction graph
    satisfies ``complete_inbound`` — every node receives a contribution
    every round, so the per-iteration nodes left join is skipped.
    Result-identical (value-compared at sf0.1 and hash-checked against
    the unchanged oracle); 1.4x wall-clock at sf0.1."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
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
    pr = pagerank(
        None, edges, n_iter=n_iter, damping=damping, complete_inbound=True
    )
    return pr.select("node", F.round("rank", 6).alias("pagerank"))


def c90_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank_copurchase(spark, sf_dir)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as
    CANONICAL edges (src < dst, deduped) — the third graph operator
    (CC, PageRank, triangles). Classic cyclic 3-way self-join with id
    ordering so each triangle {a,b,c} (a<b<c) materializes exactly once:

        wedges  = e1(a,b) ⋈ e2 ON e2.src = e1.dst   -> paths a<b<c
        closed  = wedges  ⋈ e3 ON (e3.src, e3.dst) = (a, c)

    then each closed triangle credits all three corners via a 3-element
    explode + count. Scale posture: the wedge relation is
    sum_b deg(b)^2 / 2 — the skew term; Spark shuffles it keyed on the
    closing edge (a, c), the standard distributed-triangle plan
    (node-order canonicalization is exactly the degree-based pruning
    trick from Suri & Vassilvitskii's MapReduce triangle paper).
    Nodes in no triangle are absent (inner semantics), matching the
    oracle."""
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def oriented_triangles(edges: DataFrame) -> DataFrame:
    """Closed triangles (a, b, c) of an undirected graph given as
    CANONICAL edges (src < dst, deduped), computed with DEGREE-ORDERED
    orientation — the exact skew mitigation the id-ordered plan lacks
    (VERDICT r12 watch item on c92's superlinear densification).

    Every edge is directed from its lower-(deg, id) endpoint to the
    higher one; wedges are built only at a node's OUT-edges and closed
    by a directed edge between the two out-neighbors. Under this total
    order each triangle has exactly one source (its minimum-rank
    corner), so it materializes once, and the wedge relation shrinks
    from sum_v deg(v)^2 (id order — a single hub node with deg d
    contributes d^2) to sum_v outdeg(v)^2 with outdeg amortized
    O(sqrt(m)): total wedge work O(m^1.5) REGARDLESS of the degree
    distribution. This is the "forward" / node-iterator++ orientation
    (Schank & Wagner 2005; the same degree-based ordering Suri &
    Vassilvitskii's MR partition paper and Cohen's MapReduce graph
    kit use), i.e. the plan that survives power-law co-purchase
    graphs at 100x.

    Shuffles: two node-keyed degree attaches (node-sized), the wedge
    self-join keyed on the source corner, and the closure join keyed on
    (b, c) — all keyed, no cartesian. Output columns (a, b, c) are in
    RANK order (deg, then id), not id order.

    Lineage cuts (r13): the shared relations — ``edges`` (in the
    decl, a lineitem self-join + distinct) and the directed relation
    ``d`` (referenced by BOTH wedge sides and the closure probe) — are
    ``localCheckpoint``ed once, the same lineage policy as pagerank().
    Without the cuts Catalyst inlines every reference: the composed c92
    plan instantiated the edge derivation 15x (60 parquet scans, 64
    Exchanges, zero ReusedExchange) — at 100x that is 15 redundant
    passes over the fact table. ``SPARK_GRAFT_LINEAGE_CUT=off`` keeps the
    pure composed plan inspectable for plan-posture tests."""
    edges = lineage_cut(edges)
    deg = (
        edges.select(
            F.explode(F.array(F.col("src"), F.col("dst"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        edges.join(
            deg.select(F.col("node").alias("src"), F.col("deg").alias("sdeg")),
            "src",
        ).join(
            deg.select(F.col("node").alias("dst"), F.col("deg").alias("ddeg")),
            "dst",
        )
    )
    src_first = F.struct("sdeg", "src") < F.struct("ddeg", "dst")
    d = lineage_cut(
        e.select(
            F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("x"),
            F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("y"),
            F.when(src_first, F.col("ddeg")).otherwise(F.col("sdeg")).alias("ydeg"),
        )
    )
    # r14 (guide §3.1 — pick the strategy deliberately): both joins are
    # hinted SHUFFLE_HASH with the edge-sized relation as build side.
    # Sort-merge was the planner default and it is exactly wrong here:
    # (a) the closure join would SORT the wedge relation — the largest
    # intermediate in the whole catalog (sum outdeg^2 rows) — by (b, c)
    # before merging, and (b) the wedge self-join's merge buffers every
    # hub key's match set per row. Hashing d instead streams both.
    # Measured at sf1 (12M edges, local[32], noop): wedge+closure
    # 310.8 s (SMJ) -> 105.2 s (closure SHJ) -> 23.5 s (both SHJ); cold
    # end-to-end c92 222.3 s -> 117.1 s. Scale posture: the BUILD side is
    # always the edge relation, whose per-partition hash footprint is
    # m/partitions rows (the cluster's shuffle-partition count scales
    # with the fact tables; AQE skew-split handles SHJ since Spark 3.2),
    # while the wedge relation only streams — never sorts, never builds.
    w = (
        d.alias("p")
        .join(d.alias("q").hint("SHUFFLE_HASH"), F.col("p.x") == F.col("q.x"))
        .where(
            F.struct(F.col("p.ydeg"), F.col("p.y"))
            < F.struct(F.col("q.ydeg"), F.col("q.y"))
        )
        .select(
            F.col("p.x").alias("a"),
            F.col("p.y").alias("b"),
            F.col("q.y").alias("c"),
        )
    )
    closer = d.select(F.col("x").alias("b"), F.col("y").alias("c")).hint(
        "SHUFFLE_HASH"
    )
    return w.join(closer, ["b", "c"])


def triangle_counts_oriented(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via the degree-ordered plan — exact, same
    result as triangle_counts(), O(m^1.5) wedge work instead of
    sum deg^2."""
    return (
        oriented_triangles(edges)
        .select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (src < dst, deduped) part co-purchase edges — shared by
    c92/c93. Pairs per order are O(items_per_order^2), bounded by order
    size, never corpus size."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .where(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
        )
        .distinct()
    )


def c92_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts over the same part co-purchase graph as c90.
    Round 13: switched from the id-ordered 3-way self-join to the
    degree-ordered orientation (oriented_triangles) — identical exact
    result (the oracle is unchanged), but wedge work is O(m^1.5) instead
    of sum deg^2, which is the committed 100x-scale mitigation for the
    co-purchase graph's densification (SCALING.md). The id-ordered plan
    remains as triangle_counts() and both are refereed against the same
    templated oracle by tools/fuzz_params.py's triangles drawer."""
    return triangle_counts_oriented(_copurchase_edges(spark, sf_dir))


# DOULION (Tsourakakis et al., KDD 2009): keep each edge independently
# with probability p, count triangles on the sparsified graph, scale by
# 1/p^3. The sampler must be identical in both engines, so the coin is
# the first 8 hex digits of md5("src_dst") compared lexicographically
# against a fixed hex threshold (lowercase fixed-width hex compare is
# value-order monotone; both Spark and DuckDB emit lowercase hex md5).
# p = 0.5 -> threshold 0x80000000, scale 8.
TRIANGLE_SAMPLE_HEX = "80000000"
TRIANGLE_SAMPLE_SCALE = 8  # 1 / 0.5^3


def c93_triangle_global_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle-count ESTIMATE over the co-purchase graph via
    DOULION edge sampling — the beyond-exact scale path for graphs whose
    edge set densifies past what even the degree-ordered exact plan can
    afford. Deterministic md5 coin (see TRIANGLE_SAMPLE_HEX) makes the
    estimate itself exact-oracle-checkable: DuckDB flips the SAME coins,
    counts the SAME sampled triangles, and applies the SAME 1/p^3 scale.
    Estimator quality (concentration around the true count) is pinned
    separately by tests/test_properties.py against the exact count.
    Sampling is a stateless per-edge filter BEFORE the wedge join, so the
    expensive relation shrinks by ~p^2 (wedges) while the estimate stays
    unbiased: E[scale * sampled] = true count."""
    und = _copurchase_edges(spark, sf_dir)
    kept = und.where(
        F.substring(
            F.md5(F.concat_ws("_", F.col("src"), F.col("dst"))), 1, 8
        )
        < TRIANGLE_SAMPLE_HEX
    )
    return oriented_triangles(kept).agg(
        F.count(F.lit(1)).alias("n_tri_sampled"),
        (F.count(F.lit(1)) * TRIANGLE_SAMPLE_SCALE).alias("est_triangles"),
    )


_TRIANGLE_ORACLE = """
    WITH p AS MATERIALIZED (
      SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
      FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey < y.l_partkey
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM p e1
      JOIN p e2 ON e2.src = e1.dst
      JOIN p e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT unnest([a, b, c]) AS node FROM tri
    ) t GROUP BY node
"""

# c93: same graph, same id-ordered triangle enumeration (the oracle does
# not need the degree ordering — it is an equivalent exact enumeration),
# restricted to the md5-sampled edge subset. The threshold literal is the
# SAME hex constant the Spark side compares against, and DuckDB's md5 of
# 'src_dst' equals Spark's md5(concat_ws('_', src, dst)) byte-for-byte.
_TRIANGLE_APPROX_ORACLE = f"""
    WITH p AS MATERIALIZED (
      SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
      FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
      WHERE x.l_partkey < y.l_partkey
    ),
    s AS MATERIALIZED (
      SELECT src, dst FROM p
      WHERE substr(md5(CAST(src AS VARCHAR) || '_' || CAST(dst AS VARCHAR)),
                   1, 8) < '{TRIANGLE_SAMPLE_HEX}'
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM s e1
      JOIN s e2 ON e2.src = e1.dst
      JOIN s e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tri_sampled,
           CAST(COUNT(*) * {TRIANGLE_SAMPLE_SCALE} AS BIGINT) AS est_triangles
    FROM tri
"""


def _pagerank_oracle_sql(
    n_iter: int = PAGERANK_ITER, damping: float = PAGERANK_DAMPING
) -> str:
    """Unrolled-iteration DuckDB oracle for c90 — recursive CTEs cannot
    aggregate over the recursive reference (PostgreSQL-family restriction),
    so the fixed iteration count is unrolled into chained CTEs. The
    teleport literal is generated from the SAME Python float the Spark
    side computes (repr-roundtrip), so both engines add bit-identical
    constants.

    The shared relations (edges, degrees, N, nodes) are ``AS
    MATERIALIZED``: DuckDB inlines plain CTEs at every reference, so
    without it each of the n_iter iterations re-plans the lineitem
    self-join — at sf1 that inflated the plan until temp spill filled
    the disk. Materialized, the self-join runs once and the iteration
    chain is a linear pipeline, which is also exactly what the Spark
    side executes (edges are localCheckpointed once before the loop)."""
    teleport = repr(1.0 - damping)
    parts = [
        """
        WITH e AS MATERIALIZED (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
          WHERE a.l_partkey <> b.l_partkey
        ),
        deg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
        nn AS MATERIALIZED (SELECT COUNT(DISTINCT src) AS n FROM e),
        nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
        r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn)
        """
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f""",
        s{i} AS (
          SELECT e.dst AS node, SUM(r{i - 1}.rank / deg.outdeg) AS s
          FROM e JOIN r{i - 1} ON r{i - 1}.node = e.src
                 JOIN deg ON deg.src = e.src
          GROUP BY e.dst
        ),
        r{i} AS (
          SELECT nodes.node,
                 {teleport} / nn.n
                   + {damping!r} * COALESCE(s{i}.s, 0.0) AS rank
          FROM nodes LEFT JOIN s{i} USING (node) CROSS JOIN nn
        )"""
        )
    parts.append(
        f"\n        SELECT node, ROUND(rank, 6) AS pagerank FROM r{n_iter}"
    )
    return "".join(parts)


QUERIES = {
    "c32_profile": c32_profile,
    "c23_asof_join": c23_asof_join,
    "c9b_session_window": c9b_session_window,
    "c24_percentiles": c24_percentiles,
    "c25_histogram": c25_histogram,
    "b31_pivot": b31_pivot,
    "b32_unpivot": b32_unpivot,
    "b37_cube": b37_cube,
    "b38_explode": b38_explode,
    "c34_rolling_1h": c34_rolling_1h,
    "c35_grouped_zscore": c35_grouped_zscore,
    "c26_sample": c26_sample,
    "c40_topk_agg": c40_topk_agg,
    "c41_weighted_avg": c41_weighted_avg,
    "b42_filter_agg": b42_filter_agg,
    "b43_grouping_sets": b43_grouping_sets,
    "c52_salted_hot_agg": c52_salted_hot_agg,
    "c55_asof_two_streams": c55_asof_two_streams,
    "c53_approx_percentiles": c53_approx_percentiles,
    "c54_stratified_sample": c54_stratified_sample,
    "c73_stratified_sample_exact": c73_stratified_sample_exact,
    "c42_corr": c42_corr,
    "c81_group_trend": c81_group_trend,
    "c82_winsorize": c82_winsorize,
    "c83_orphan_audit": c83_orphan_audit,
    "c90_pagerank": c90_pagerank,
    "c92_triangle_count": c92_triangle_count,
    "c93_triangle_global_approx": c93_triangle_global_approx,
}

ORACLE = {
    "c90_pagerank": _pagerank_oracle_sql(),
    "c92_triangle_count": _TRIANGLE_ORACLE,
    "c93_triangle_global_approx": _TRIANGLE_APPROX_ORACLE,
    "c73_stratified_sample_exact": """
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM documents
        ) WHERE rn <= CEIL(n * 0.1)
    """,

    "c32_profile": """
        SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               COUNT(DISTINCT o_orderkey) AS n_distinct FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(*),
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_custkey) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*),
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_orderstatus) FROM orders
        UNION ALL
        SELECT 'o_totalprice', COUNT(*),
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_totalprice) FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*),
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_orderpriority) FROM orders
    """,
    "c23_asof_join": """
        SELECT event_id, user_id, event_type,
               last_value(CASE WHEN event_type = 'purchase' THEN event_id END
                          IGNORE NULLS) OVER w AS last_purchase_id,
               last_value(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END
                          IGNORE NULLS) OVER w AS last_purchase_ts_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    """,
    "c9b_session_window": f"""
        WITH flagged AS (
          SELECT user_id, value, event_id, epoch_us(ts) AS ts_us,
                 CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
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
               MAX(ts_us) + 1800000000 AS session_end_us,
               COUNT(*) AS n_events,
               {MONEY_SUM_VALUE} AS total_value
        FROM numbered GROUP BY user_id, seq
    """,
    "c24_percentiles": """
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 6) AS p50,
               ROUND(quantile_cont(value, 0.95), 6) AS p95,
               MIN(value) AS v_min,
               MAX(value) AS v_max
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "c25_histogram": f"""
        SELECT CAST(FLOOR(value / 50) AS BIGINT) AS bucket,
               COUNT(*) AS n,
               {MONEY_SUM_VALUE} AS bucket_sum
        FROM events GROUP BY 1 ORDER BY 1
    """,
    "b31_pivot": """
        SELECT o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (o_orderstatus = 'F') AS DOUBLE) AS F,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (o_orderstatus = 'O') AS DOUBLE) AS O,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (o_orderstatus = 'P') AS DOUBLE) AS P
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "b32_unpivot": """
        WITH wide AS (
          SELECT o_orderpriority,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                 CAST(COUNT(*) AS DOUBLE) AS n_orders
          FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, 'total' AS measure, total AS val FROM wide
        UNION ALL
        SELECT o_orderpriority, 'n_orders', n_orders FROM wide
    """,
    "c26_sample": """
        SELECT event_id, user_id, event_type, value
        FROM events WHERE event_id % 20 = 0
    """,
    "b37_cube": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    "b38_explode": """
        SELECT doc_id, CAST(u.pos AS BIGINT) AS pos,
               string_split(text, ' ')[u.pos] AS tok
        FROM documents,
             unnest(range(1, len(string_split(text, ' ')) + 1)) AS u(pos)
        WHERE n_chars < 200
    """,
    "c40_topk_agg": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
          FROM orders
        ) t WHERE rn <= 3
    """,
    "c41_weighted_avg": """
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_weighted_disc,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "c55_asof_two_streams": """
        WITH purchases AS (
          SELECT user_id, epoch_us(ts) AS p_ts_us, MAX(event_id) AS purchase_id
          FROM events WHERE event_type = 'purchase' GROUP BY user_id, epoch_us(ts)
        ),
        views AS (
          SELECT event_id AS view_id, user_id, epoch_us(ts) AS v_ts_us
          FROM events WHERE event_type = 'view'
        )
        SELECT v.view_id, v.user_id, v.v_ts_us, p.purchase_id, p.p_ts_us
        FROM views v ASOF LEFT JOIN purchases p
          ON v.user_id = p.user_id AND v.v_ts_us >= p.p_ts_us
    """,
    "c52_salted_hot_agg": """
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM events GROUP BY event_type
    """,
    "b43_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """,
    "b42_filter_agg": """
        SELECT o_orderstatus,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS n_urgent,
               COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                 FILTER (o_orderpriority = '1-URGENT') AS DOUBLE), 0.0) AS urgent_total
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "c83_orphan_audit": """
        WITH lk AS (SELECT DISTINCT doc_id AS k FROM documents),
             rk AS (SELECT DISTINCT vec_id AS k FROM embeddings)
        SELECT CAST(COUNT(*) FILTER (lk.k IS NOT NULL AND rk.k IS NOT NULL)
                    AS BIGINT) AS n_matched,
               CAST(COUNT(*) FILTER (rk.k IS NULL) AS BIGINT)
                 AS n_left_orphans,
               CAST(COUNT(*) FILTER (lk.k IS NULL) AS BIGINT)
                 AS n_right_orphans
        FROM lk FULL OUTER JOIN rk ON lk.k = rk.k
    """,
    "c82_winsorize": """
        WITH bands AS (
          SELECT event_type,
                 quantile_cont(value, 0.05) AS plo,
                 quantile_cont(value, 0.95) AS phi
          FROM events GROUP BY 1
        )
        SELECT event_id, event_type, value,
               ROUND(least(greatest(value, plo), phi), 6) AS value_winsorized,
               (ROUND(value, 6) != ROUND(least(greatest(value, plo), phi), 6))
                 AS was_clipped
        FROM events JOIN bands USING (event_type)
    """,
    "c81_group_trend": """
        WITH s AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sxd,
                 CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxxd,
                 CAST(SUM(y) AS DOUBLE) AS syd,
                 CAST(SUM(CAST(x AS DECIMAL(18,2)) * y) AS DOUBLE) AS sxyd
          FROM (
            SELECT event_type,
                   CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS x,
                   CAST(value AS DECIMAL(18,2)) AS y
            FROM events
          ) GROUP BY event_type
        )
        SELECT event_type, n,
               ROUND((n * sxyd - sxd * syd) / (n * sxxd - sxd * sxd), 6)
                 AS slope_per_day,
               ROUND((syd - (n * sxyd - sxd * syd) / (n * sxxd - sxd * sxd)
                      * sxd) / n, 6) AS intercept
        FROM s ORDER BY event_type
    """,
    "c42_corr": """
        SELECT l_returnflag,
               ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
               ROUND(covar_samp(l_quantity, l_discount), 6) AS qty_disc_cov
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "c35_grouped_zscore": """
        SELECT event_id, event_type,
               ROUND((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w, 6)
                 AS zscore
        FROM events
        WINDOW w AS (PARTITION BY event_type)
    """,
    "c34_rolling_1h": f"""
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               COUNT(*) OVER w AS n_events_1h,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
}
