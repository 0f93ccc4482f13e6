"""Deterministic expression helpers.

Money arithmetic goes through DECIMAL so aggregates are exact and therefore
bit-identical across engines and across partitionings (double summation is
order-dependent; decimal is not). The pattern is::

    CAST(SUM(CAST(x AS DECIMAL(18,2)) * ...) AS DOUBLE)

- exact decimal accumulate, single deterministic conversion to double at the
  end. This is also the right call at 100 TB: a partial-agg tree over
  decimals gives the same answer regardless of partition count, so results
  are reproducible run-to-run on a cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"

# The DuckDB oracle twin of ``dmoney_sum(money("value"), ...)``.
MONEY_SUM_VALUE = "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)"


def money(col: Column | str) -> Column:
    """Exact 2-decimal representation of a monetary double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def dmoney_sum(col: Column, alias: str) -> Column:
    """Exact decimal SUM, surfaced as DOUBLE (deterministic)."""
    return F.sum(col).cast("double").alias(alias)


def dmoney_sum_grain(col: Column, alias: str) -> Column:
    """Exact decimal SUM rounded to the 2-decimal money grain before the
    DOUBLE cast. Use for sums of DECIMAL *products* (scale 4+) over groups
    whose magnitude grows with data size: past ~2^53 unscaled units,
    engines convert high-scale decimals to double differently (DuckDB by
    double division, Spark by BigDecimal rounding — 1 ulp apart, first
    seen in b3's sum_charge at sf1). At scale 2 the conversion is
    exact-integer / 100, correctly rounded in every engine. The matching
    oracle SQL must apply ROUND(SUM(...), 2) the same way."""
    return F.round(F.sum(col), 2).cast("double").alias(alias)


def cents(col: Column | str, scale: int = 100) -> Column:
    """Exact integer sub-units (LONG) of a monetary double.

    Routes through :func:`money` first so rounding semantics (double →
    DECIMAL(18,2), HALF_UP on the shortest decimal repr) are identical to the
    decimal plan and to ``CAST(x AS DECIMAL(18,2))`` in the DuckDB oracle;
    the subsequent ``* scale`` and LONG cast are exact.
    """
    return (money(col) * scale).cast("long")


def cents_sum(col: Column, alias: str, scale: int = 10000) -> Column:
    """Exact SUM over integer sub-unit LONGs, surfaced as DOUBLE.

    Faster than the DECIMAL accumulate (primitive long partial aggregation in
    whole-stage codegen vs BigDecimal buffers) and still deterministic: the
    long sum is exact, converts to double exactly below 2**53 sub-units, and
    the final division by a power of ten is correctly rounded — bit-identical
    to ``CAST(SUM(decimal) AS DOUBLE)``.

    ONLY safe when the per-group row count is bounded (not SF-growing):
    overflow headroom is ~9.2e18 sub-units. Use :func:`dmoney_sum` for
    whole-table or SF-growing groups.
    """
    return (F.sum(col) / F.lit(scale)).cast("double").alias(alias)


def money_avg(col: Column, alias: str) -> Column:
    """Deterministic average: exact decimal sum / count, divided as doubles
    (matches ``CAST(SUM(dec) AS DOUBLE) / COUNT(*)`` in ANSI SQL)."""
    return (F.sum(col).cast("double") / F.count(F.lit(1))).alias(alias)


def ts_lit(df: DataFrame, column: str, value: str) -> Column:
    """A timestamp literal cast to the *actual* runtime type of ``column``
    (TIMESTAMP vs TIMESTAMP_NTZ depends on the session's parquet inference
    conf, which the verification driver controls, not us)."""
    return F.lit(value).cast(df.schema[column].dataType)
