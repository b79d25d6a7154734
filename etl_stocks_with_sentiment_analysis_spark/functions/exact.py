"""Cross-engine-deterministic statistics helpers.

Floating-point SUM/AVG/STDDEV over many rows are not associative, so
two engines (Spark's hash-agg / window segment evaluation vs DuckDB's
segment-tree window aggregation) can produce hash-mismatching results
even when both are "correct". These helpers compute moments on
integer-scaled values: sums of BIGINTs are exact and order-free, and
the final double arithmetic is a fixed IEEE expression evaluated
identically by both engines.

Semantics: statistics are defined over ``round(x * scale) / scale``
(i.e. the input quantized at 1/scale). For cents-valued prices use
scale=100; for percentages scale=10_000 (keeps squares * 20-row
windows < 2^63).

Each Spark helper has a matching SQL template (``SQL_*``) so the
DuckDB oracle is textually the same formula.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def scaled(col: Column, scale: int) -> Column:
    """Quantize a double column to an exact BIGINT at 1/scale resolution."""
    return F.round(col * scale, 0).cast("long")


def round_like_duckdb(col: Column, digits: int) -> Column:
    """ROUND(x, digits) on a DOUBLE, evaluated as DuckDB does:
    ``round(x * 10^digits, 0) / 10^digits`` in floating point.

    `F.round(x, digits)` rounds the shortest decimal form of x half-up,
    while DuckDB scales first. Near a half-way tie the two disagree in
    the last digit (x = 29.63124999999999... prints below the tie, but
    x * 10^4 rounds to exactly 296312.5 in IEEE and then up). Rounding
    the scaled value at 0 digits is exact in both engines, so this
    form matches the oracle's plain ``ROUND(x, digits)``."""
    scale = float(10**digits)
    return F.round(col * scale, 0) / scale


def mean_from_sums(s: Column, n: Column, scale: int) -> Column:
    """Exact mean: CAST(s AS DOUBLE) / n / scale."""
    return s.cast("double") / n / F.lit(float(scale))


def std_from_sums(s: Column, ssq: Column, n: Column, scale: int) -> Column:
    """Sample stddev from integer sums, NULL when n < 2.

    SQRT(GREATEST(ssq*n - s*s, 0) / (n*(n-1))) / scale — every term is
    either an exact integer or a deterministic IEEE double op.
    """
    num = F.greatest(
        ssq.cast("double") * n - s.cast("double") * s.cast("double"), F.lit(0.0)
    )
    return F.when(n >= 2, F.sqrt(num / (n * (n - 1))) / F.lit(float(scale)))


# SQL templates (DuckDB) — keep textually in sync with the helpers above.
# {x}: input expression, {scale}: int scale, {over}: window clause or ''.
SQL_SCALED = "CAST(ROUND(({x}) * {scale}, 0) AS BIGINT)"
SQL_MEAN = "CAST(SUM({sc}) {over} AS DOUBLE) / COUNT({sc}) {over} / {scale}.0"
SQL_STD = (
    "CASE WHEN COUNT({sc}) {over} >= 2 THEN "
    "SQRT(GREATEST(CAST(SUM({sc} * {sc}) {over} AS DOUBLE) * COUNT({sc}) {over} "
    "- CAST(SUM({sc}) {over} AS DOUBLE) * CAST(SUM({sc}) {over} AS DOUBLE), 0) "
    "/ (COUNT({sc}) {over} * (COUNT({sc}) {over} - 1))) / {scale}.0 END"
)


def sql_scaled(x: str, scale: int) -> str:
    return SQL_SCALED.format(x=x, scale=scale)


def sql_mean(x: str, scale: int, over: str = "") -> str:
    return SQL_MEAN.format(sc=sql_scaled(x, scale), over=over, scale=scale)


def sql_std(x: str, scale: int, over: str = "") -> str:
    return SQL_STD.format(sc=sql_scaled(x, scale), over=over, scale=scale)
