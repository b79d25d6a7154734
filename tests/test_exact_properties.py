"""Property-based tests (hypothesis) for functions/exact.py.

The engine's cross-engine determinism rests on three claims about the
integer-quantized moment formulas; each is a property, not an example:

1. permutation invariance — the integer sums make the result
   bit-identical under any input order (the float SUM is not);
2. the mean formula equals the true mean of the quantized values;
3. the std formula equals numpy's two-pass sample std of the
   quantized values (up to the documented cancellation bound).

The formulas are mirrored here in pure Python exactly as the Spark
Column / DuckDB SQL templates evaluate them (BIGINT sums, then fixed
IEEE double arithmetic), over the documented pct_change domain
(|x| ≤ 1e3, scale=1e4 → squares × 50 rows stay < 2^53, so the
double conversion of ssq is exact).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

SCALE = 10_000

finite = st.floats(min_value=-1e3, max_value=1e3, allow_nan=False)


def quantize(xs: list[float]) -> list[int]:
    # ROUND_HALF_UP on the exact binary double == Spark F.round /
    # DuckDB ROUND semantics (half away from zero).
    return [
        int(Decimal(x * SCALE).quantize(Decimal(1), rounding=ROUND_HALF_UP))
        for x in xs
    ]


def formula_mean(q: list[int]) -> float:
    return float(sum(q)) / len(q) / float(SCALE)


def formula_std(q: list[int]) -> float | None:
    n = len(q)
    if n < 2:
        return None
    s, ssq = sum(q), sum(v * v for v in q)
    num = max(float(ssq) * n - float(s) * float(s), 0.0)
    return math.sqrt(num / (n * (n - 1))) / float(SCALE)


@given(st.lists(finite, min_size=1, max_size=50))
@settings(max_examples=200, deadline=None)
def test_mean_matches_quantized_mean(xs):
    q = quantize(xs)
    assert math.isclose(
        formula_mean(q),
        float(np.mean([v / SCALE for v in q])),
        rel_tol=1e-9,
        abs_tol=1e-12,
    )


@given(st.lists(finite, min_size=2, max_size=50))
@settings(max_examples=200, deadline=None)
def test_std_matches_numpy_sample_std(xs):
    q = quantize(xs)
    expect = float(np.std(np.array(q, dtype=np.float64) / SCALE, ddof=1))
    got = formula_std(q)
    # cancellation bound: |ssq*n - s*s| carries ulp(~1e15) ≈ 0.25 →
    # sqrt(0.25/(n(n-1)))/SCALE ≲ 4e-5 absolute in the worst case
    assert math.isclose(got, expect, rel_tol=1e-6, abs_tol=1e-4)


@given(st.lists(finite, min_size=1, max_size=50), st.randoms())
@settings(max_examples=200, deadline=None)
def test_permutation_invariance_bitwise(xs, rnd):
    q = quantize(xs)
    shuffled = q[:]
    rnd.shuffle(shuffled)
    assert formula_mean(q) == formula_mean(shuffled)  # bit-identical
    assert formula_std(q) == formula_std(shuffled)


@given(finite)
@settings(max_examples=300, deadline=None)
def test_cents_matches_round_half_up(v):
    """streaming.stateful._cents must agree with Spark/DuckDB ROUND."""
    from etl_stocks_with_sentiment_analysis_spark.streaming.stateful import _cents

    expect = int(Decimal(v * 100).quantize(Decimal(1), rounding=ROUND_HALF_UP))
    assert _cents(v) == expect


def test_std_none_below_two_rows():
    assert formula_std([42]) is None


def test_round_like_duckdb_matches_duckdb_at_half_way_ties(spark):
    """`round_like_duckdb` equals DuckDB's ROUND(x, 4) on values one ulp
    either side of a 4-digit tie, where plain F.round disagrees (the
    seed-203 `predicted_volatility` mismatch, 29.6312 vs 29.6313)."""
    import duckdb
    from pyspark.sql import functions as F

    from etl_stocks_with_sentiment_analysis_spark.functions import exact

    vals = []
    for k in range(296000, 297000):
        tie = (k + 0.5) / 1e4
        vals += [tie, math.nextafter(tie, 0.0), math.nextafter(tie, 1e9)]
    rows = list(enumerate(vals))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute("SELECT i, ROUND(ABS(x), 4) FROM t").fetchall())
    df = spark.createDataFrame(rows, "i BIGINT, x DOUBLE")
    got = df.select(
        "i",
        exact.round_like_duckdb(F.abs(F.col("x")), 4).alias("new"),
        F.round(F.abs(F.col("x")), 4).alias("plain"),
    ).collect()
    assert all(r["new"] == want[r["i"]] for r in got)
    assert any(r["plain"] != want[r["i"]] for r in got)
