"""Operator catalog.

Each operator module exposes two dicts keyed by declared-query name:

- ``QUERIES``: name -> callable(spark, sf_dir) -> DataFrame (the Spark-native
  implementation);
- ``ORACLE``: name -> ANSI SQL string the DuckDB oracle runs on the same
  tables (omitted for non-SQL-expressible operators, which get a rows-only
  check).

``all_queries()`` / ``all_oracle_sql()`` aggregate the catalog for the driver
contract in ``__spark_entry__.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    analytics,
    curation,
    dedup,
    events,
    relational,
    similarity,
    text,
    transforms,
)


_MODULES = (
    transforms, relational, dedup, similarity, text, events, analytics, curation
)

# Registry order is part of the external verification contract: the driver
# oracle-checks the first ~50 entries of ``queries()``.  Every SURVEY §2
# mandated declaration must therefore sit inside that window, ahead of the
# extended/bonus variants.  ``_PRIORITY`` pins the first 50 explicitly;
# everything not named keeps module registry order after it.
#
# Re-seat policy: the 43 mandated pins stay seated every round.  The last 7
# seats rotate, in priority order, to (1) a decl whose operator or oracle
# code changed since its last driver row, within 3 rounds of the change;
# (2) a pin swapped out for one round the round before; (3) the decls with
# the oldest driver row, round-robin.  The rotation history is in git and
# the VERDICT coverage table.
_PRIORITY = (
    # Tier A query-shaped decls
    "a8_count_star", "a9_limit", "a10_project_first10", "a11_lit_col",
    # Tier B core SQL surface (B1-B28)
    "b1_filter_pred", "b2_project_expr", "b3_groupby_agg", "b4_distinct",
    "b5_approx_distinct", "b6_join_inner", "b7_join_multiway",
    "b8_join_left", "b9_join_anti", "b10_join_range",
    "b11_cross", "b12_subq_scalar", "b13_rollup", "b14_win_rank",
    "b15_win_lag", "b16_win_frame",
    "b17_sort", "b18_topk",
    "b19_setops", "b20_case", "b21_string_fns",
    "b22_date_fns", "b23_math_fns", "b24_nulls", "b25_cast",
    "b26_cte", "b27_having", "b28_array_fns",
    # Tier C mandated rows C1-C10
    "c1_dedup_exact", "c2_dedup_norm",
    "c3_cosine_topk", "c4_lsh_knn",
    "c5_text_stats",
    "c6_minhash", "c6_lsh_dup_pairs",
    "c7_tumbling", "c8_sliding",
    "c9_session",
    "c10_json_extract",
    # Rotation seats (rule 3: the oldest driver rows)
    "c36_dedup_clusters", "c43_keep_best_per_cluster", "c46_decontaminate",
    "b9_join_semi", "c13_knn_all", "c21_json_agg", "c32_profile",
)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    raw: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        overlap = raw.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate declared queries: {overlap}")
        raw.update(mod.QUERIES)
    missing = [name for name in _PRIORITY if name not in raw]
    if missing:
        raise ValueError(f"_PRIORITY names not in registry: {missing}")
    out = {name: raw[name] for name in _PRIORITY}
    out.update((name, fn) for name, fn in raw.items() if name not in out)
    return out


def all_oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLE)
    return out
