"""Derived stock-domain panel over the TPC-H-ish testdata.

The reference's data model (SURVEY.md §1.4) is a (ticker, date) OHLCV
panel (`/root/reference/init.sql:4-15`), a per-(ticker, date)
sentiment/topic enrichment table (`init.sql:17-26`), and a prediction
sink (`/root/reference/ml/data_loader.py:123-136`). FIXTURES.md §5
maps those shapes onto the driver's testdata: lineitem → prices
panel, lineitem⋈orders → explanations, derived classes → predictions.

Every builder here has a **matching DuckDB oracle CTE string** used by
the correctness harness. Float-determinism rules (so the driver's
order-insensitive value hash matches across engines):

- MIN/MAX over doubles: exact, order-insensitive — safe.
- SUM over *integer-valued* doubles cast to BIGINT: exact — safe.
- SUM over price-like doubles: round to cents first, sum as BIGINT,
  divide at the end ("cents trick") — exact & associative.
- Derived arithmetic (a-b)/c on identical inputs: IEEE-deterministic.
- NEVER hash a raw float SUM/AVG/STDDEV over many rows: summation
  order differs between engines.

Scale notes: the panel is one hash-aggregation over lineitem keyed on
(suppkey, shipdate) — fully map-side-combinable, shuffles only the
aggregated groups (≪ input). At 100 TB the natural layout is parquet
partitioned by date with suppkey bucketing; Catalyst prunes both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import exact
from ..sources import load_table

# ---------------------------------------------------------------------------
# Oracle CTE snippets (DuckDB SQL). Compose with sql_with().
# ---------------------------------------------------------------------------

PRICES_CTE = """prices AS (
  SELECT CAST(l_suppkey AS BIGINT) AS ticker,
         CAST(l_shipdate AS DATE) AS date,
         MIN(l_extendedprice) AS low,
         MAX(l_extendedprice) AS high,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 AS close,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS volume
  FROM lineitem
  GROUP BY 1, 2
)"""

EXPLANATIONS_CTE = """explanations AS (
  SELECT ticker, date,
         CASE status WHEN 'O' THEN 'Positive' WHEN 'F' THEN 'Negative' ELSE 'Neutral' END AS sentiment,
         CASE priority WHEN '1-URGENT' THEN 'earnings' WHEN '2-HIGH' THEN 'macro'
              WHEN '3-MEDIUM' THEN 'company-specific' ELSE 'speculation' END AS topic,
         'ticker ' || CAST(ticker AS VARCHAR) || ' moved on ' ||
         CASE priority WHEN '1-URGENT' THEN 'earnings' WHEN '2-HIGH' THEN 'macro'
              WHEN '3-MEDIUM' THEN 'company-specific' ELSE 'speculation' END AS explanation
  FROM (
    SELECT CAST(l.l_suppkey AS BIGINT) AS ticker,
           CAST(l.l_shipdate AS DATE) AS date,
           MIN(o.o_orderstatus) AS status,
           MIN(o.o_orderpriority) AS priority
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey % 5 < 4
    GROUP BY 1, 2
  )
)"""

CHANGES_CTE = """changes AS (
  SELECT ticker, date, low, high, close, volume,
         close - LAG(close) OVER (PARTITION BY ticker ORDER BY date) AS price_change,
         (close - LAG(close) OVER (PARTITION BY ticker ORDER BY date))
           / NULLIF(LAG(close) OVER (PARTITION BY ticker ORDER BY date), 0) * 100 AS pct_change
  FROM prices
)"""

PREDICTIONS_CTE = """predictions AS (
  SELECT ticker, date,
         CASE WHEN ABS(prev_pct) < 2 THEN 'low'
              WHEN ABS(prev_pct) < 5 THEN 'medium' ELSE 'high' END AS predicted_volatility_class,
         ROUND(ABS(prev_pct), 4) AS predicted_volatility,
         0.5 + CAST(volume % 50 AS DOUBLE) / 100.0 AS confidence,
         CASE WHEN ticker % 2 = 0 THEN 'v1.0' ELSE 'v2.0' END AS model_version
  FROM (
    SELECT ticker, date, volume,
           LAG(pct_change) OVER (PARTITION BY ticker ORDER BY date) AS prev_pct
    FROM changes
  )
  WHERE prev_pct IS NOT NULL
)"""

ACTUALS_CTE = """actuals AS (
  SELECT ticker, date,
         CASE WHEN ABS(pct_change) < 2 THEN 'low'
              WHEN ABS(pct_change) < 5 THEN 'medium' ELSE 'high' END AS actual_volatility_class
  FROM changes
  WHERE pct_change IS NOT NULL
)"""

SCORED_CTE = """scored AS (
  SELECT p.ticker, p.date, p.predicted_volatility_class, p.predicted_volatility,
         p.confidence, p.model_version, a.actual_volatility_class,
         CASE WHEN p.predicted_volatility_class = a.actual_volatility_class THEN 1 ELSE 0 END AS is_correct
  FROM predictions p JOIN actuals a ON p.ticker = a.ticker AND p.date = a.date
)"""


def sql_with(*ctes: str, body: str) -> str:
    """Compose CTE snippets + a final SELECT into one oracle SQL string."""
    return "WITH " + ",\n".join(ctes) + "\n" + body


# Convenience bundles: most oracles need the full lineage up to a layer.
PANEL = (PRICES_CTE,)
PANEL_CHG = (PRICES_CTE, CHANGES_CTE)
PANEL_ENRICHED = (PRICES_CTE, EXPLANATIONS_CTE, CHANGES_CTE)
PANEL_SCORED = (PRICES_CTE, CHANGES_CTE, PREDICTIONS_CTE, ACTUALS_CTE, SCORED_CTE)


# ---------------------------------------------------------------------------
# Spark builders (DataFrame API — declarative, Catalyst-optimized)
# ---------------------------------------------------------------------------

def w_ticker_date():
    """The canonical panel window: partition by ticker, order by date.

    Built lazily — constructing a WindowSpec requires an active
    SparkSession, and this module must import session-free (the driver
    imports __spark_entry__ before creating its own session).
    """
    return Window.partitionBy("ticker").orderBy("date")


# Scoped base-frame overrides (r10): every derived panel frame flows
# through prices()/explanations(), so swapping THOSE two swaps the
# storage layer under the entire dashboard lineage — parquet testdata
# by default, ACID manifest tables inside a `base_frames(...)` block
# (`views.create_dashboard_views_on_manifest`). Single-threaded
# registration-time state, mirrored on the reference where the same
# view SQL reads whatever lives in the `stock_prices` /
# `grok_explanations` tables (`sql/dashboard_views.sql:5-182`).
_BASE_OVERRIDES: dict[str, DataFrame] = {}


class base_frames:
    """Context manager: within the block, ``prices()`` /
    ``explanations()`` return the given frames instead of building
    from ``sf_dir`` parquet. Plans captured inside the block (temp
    views, returned DataFrames) keep the override lineage after exit
    — DataFrames are immutable plans; only NEW builder calls revert."""

    def __init__(self, **overrides: DataFrame):
        bad = set(overrides) - {"prices", "explanations"}
        if bad:
            raise ValueError(f"unknown base frames: {sorted(bad)}")
        self._overrides = overrides

    def __enter__(self):
        self._saved = dict(_BASE_OVERRIDES)
        _BASE_OVERRIDES.update(self._overrides)
        return self

    def __exit__(self, *exc):
        _BASE_OVERRIDES.clear()
        _BASE_OVERRIDES.update(self._saved)
        return False


def prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ticker, date) OHLCV-like panel from lineitem.

    One shuffle (hash-agg on the grouping key) with map-side partial
    aggregation; all agg functions are order-insensitive-exact.
    """
    got = _BASE_OVERRIDES.get("prices")
    if got is not None:
        return got
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_suppkey").cast("long").alias("ticker"),
        F.col("l_shipdate").cast("date").alias("date"),
    ).agg(
        F.min("l_extendedprice").alias("low"),
        F.max("l_extendedprice").alias("high"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            / F.lit(100.0)
        ).alias("close"),
        F.sum(F.col("l_quantity").cast("long")).alias("volume"),
    )


def explanations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(ticker, date) sentiment/topic enrichment (~80% coverage).

    lineitem ⋈ orders on orderkey; orders is the small side at any
    scale factor relative to lineitem (1:~4) but both are fact-sized,
    so Catalyst's sort-merge join (or AQE-converted SHJ) is correct;
    no broadcast hint. Deliberately partial coverage (orderkey%5<4) so
    the J1 left join has NULL sentiment rows and J3's anti-join delta
    is non-empty, matching FIXTURES.md §2.
    """
    got = _BASE_OVERRIDES.get("explanations")
    if got is not None:
        return got
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # MIN over the first-char ASCII code, not the string: both columns
    # are prefix-ordered ('F'<'O'<'P'; '1-URGENT'<'2-HIGH'<...), so the
    # code min picks the same value — but an INT agg buffer runs in
    # HashAggregate where min(string) falls back to SortAggregate
    # (sort-per-partition before the partial agg). Measured at sf0.1:
    # ~1.2s vs ~1.6s for this subplan. Output decodes to the identical
    # sentiment/topic strings, so every oracle is unchanged.
    # encode the 1-char codes BEFORE the join: at 32×+ scale this join
    # is a shuffle join (orders outgrows the broadcast threshold), and
    # projecting orders to (orderkey, 2 ints) up front shrinks what the
    # exchange carries — the agg output is identical either way
    ocodes = orders.select(
        "o_orderkey",
        F.ascii(F.substring("o_orderstatus", 1, 1)).alias("status_code"),
        F.ascii(F.substring("o_orderpriority", 1, 1)).alias("priority_code"),
    )
    base = (
        li.filter(F.col("l_orderkey") % 5 < 4)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(ocodes, li.l_orderkey == ocodes.o_orderkey)
        .groupBy(
            F.col("l_suppkey").cast("long").alias("ticker"),
            F.col("l_shipdate").cast("date").alias("date"),
        )
        .agg(
            F.min("status_code").alias("status_c"),
            F.min("priority_code").alias("priority_c"),
        )
    )
    topic = (
        F.when(F.col("priority_c") == F.lit(ord("1")), "earnings")
        .when(F.col("priority_c") == F.lit(ord("2")), "macro")
        .when(F.col("priority_c") == F.lit(ord("3")), "company-specific")
        .otherwise("speculation")
    )
    sentiment = (
        F.when(F.col("status_c") == F.lit(ord("O")), "Positive")
        .when(F.col("status_c") == F.lit(ord("F")), "Negative")
        .otherwise("Neutral")
    )
    return base.select(
        "ticker",
        "date",
        sentiment.alias("sentiment"),
        topic.alias("topic"),
        F.concat(
            F.lit("ticker "),
            F.col("ticker").cast("string"),
            F.lit(" moved on "),
            topic,
        ).alias("explanation"),
    )


def changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prices + LAG-derived price_change / pct_change (SURVEY W1).

    Mirrors `/root/reference/dbt_project/models/staging/stg_stock_prices.sql:11-13`.
    """
    prev = F.lag("close").over(w_ticker_date())
    return prices(spark, sf_dir).select(
        "ticker",
        "date",
        "low",
        "high",
        "close",
        "volume",
        (F.col("close") - prev).alias("price_change"),
        ((F.col("close") - prev) / F.nullif(prev, F.lit(0)) * 100).alias("pct_change"),
    )


def predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic persistence-model predictions (ml sink analog).

    Predicted class = yesterday's move bucket; confidence derived from
    volume; two model_versions to exercise A4/J5/W11.
    Mirrors the sink schema at `/root/reference/ml/data_loader.py:123-136`.
    """
    prev_pct = F.lag("pct_change").over(w_ticker_date())
    base = (
        changes(spark, sf_dir)
        .select("ticker", "date", "volume", prev_pct.alias("prev_pct"))
        .filter(F.col("prev_pct").isNotNull())
    )
    abs_prev = F.abs(F.col("prev_pct"))
    return base.select(
        "ticker",
        "date",
        F.when(abs_prev < 2, "low")
        .when(abs_prev < 5, "medium")
        .otherwise("high")
        .alias("predicted_volatility_class"),
        exact.round_like_duckdb(abs_prev, 4).alias("predicted_volatility"),
        (F.lit(0.5) + (F.col("volume") % 50).cast("double") / 100.0).alias("confidence"),
        F.when(F.col("ticker") % 2 == 0, "v1.0").otherwise("v2.0").alias("model_version"),
    )


def actuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized volatility class per (ticker, date) — F2-style CASE bucket
    (`/root/reference/sql/dashboard_views.sql:8-14` semantics, `<` boundaries)."""
    abs_pct = F.abs(F.col("pct_change"))
    return (
        changes(spark, sf_dir)
        .filter(F.col("pct_change").isNotNull())
        .select(
            "ticker",
            "date",
            F.when(abs_pct < 2, "low")
            .when(abs_pct < 5, "medium")
            .otherwise("high")
            .alias("actual_volatility_class"),
        )
    )


def enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prices ⟕ explanations with pct_change — join-BEFORE-window shape.

    Both agg outputs are already hash-partitioned on (ticker, date), so
    the left join needs no exchange (sort only); the single window
    exchange (ticker) happens once, after the join. Measured: 5→3
    exchanges vs the window-first lineage, identical results (the left
    join is 1:≤1 on the window's own partition key, so window-then-join
    ≡ join-then-window).
    """
    p = prices(spark, sf_dir)
    e = explanations(spark, sf_dir)
    j = p.join(e, ["ticker", "date"], "left")
    prev = F.lag("close").over(w_ticker_date())
    return j.select(
        "ticker",
        "date",
        "low",
        "high",
        "close",
        "volume",
        "sentiment",
        "topic",
        "explanation",
        (F.col("close") - prev).alias("price_change"),
        ((F.col("close") - prev) / F.nullif(prev, F.lit(0)) * 100).alias("pct_change"),
    )


FCT_CTE = """fct AS (
  SELECT c.ticker, c.date, c.low, c.high, c.close, c.volume,
         c.price_change, c.pct_change,
         LOWER(e.sentiment) AS sentiment, LOWER(e.topic) AS topic, e.explanation,
         CASE WHEN ABS(c.pct_change) > 5 THEN 'large_move'
              WHEN ABS(c.pct_change) > 2 THEN 'medium_move'
              ELSE 'small_move' END AS move_category
  FROM changes c LEFT JOIN explanations e ON c.ticker = e.ticker AND c.date = e.date
)"""


def fct_prices_with_grok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold fact table: stg prices ⟕ explanations + move_category.

    Mirrors `/root/reference/dbt_project/models/marts/fct_prices_with_grok.sql:1-24`
    (left join + CASE bucket) with the stg projections folded in.
    One window shuffle + one join; at scale both sides are bucketed by
    ticker so the join is co-located.
    """
    abs_pct = F.abs(F.col("pct_change"))
    return (
        enriched(spark, sf_dir)
        .select(
            "ticker",
            "date",
            "low",
            "high",
            "close",
            "volume",
            "price_change",
            "pct_change",
            F.lower("sentiment").alias("sentiment"),
            F.lower("topic").alias("topic"),
            "explanation",
            F.when(abs_pct > 5, "large_move")
            .when(abs_pct > 2, "medium_move")
            .otherwise("small_move")
            .alias("move_category"),
        )
    )


def scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """predictions ⋈ actuals with is_correct flag (J2 — the model-scoring
    join, `/root/reference/sql/dashboard_views.sql:36-39`).

    Physical plan note: the oracle spec (SCORED_CTE) joins the
    predictions and actuals CTEs on (ticker, date), but both derive
    from the SAME panel row — predictions from LAG(pct_change),
    actuals from pct_change. Expressing it as two lineages made Spark
    build the panel twice and shuffle for an equi-join of identical
    keys. This single-pass form computes both columns in one window
    pass (zero join, one exchange) and is row-for-row identical: the
    inner join on (ticker, date) is exactly the rows where both
    pct_change and its lag are non-null. ~2x faster on the whole
    A1–A8 dashboard lineage, and at 100 TB it removes a fact-fact
    shuffle entirely.
    """
    prev_pct = F.lag("pct_change").over(w_ticker_date())
    base = (
        changes(spark, sf_dir)
        .select(
            "ticker",
            "date",
            "volume",
            "pct_change",
            prev_pct.alias("prev_pct"),
        )
        .filter(F.col("pct_change").isNotNull() & F.col("prev_pct").isNotNull())
    )
    abs_prev = F.abs(F.col("prev_pct"))
    abs_pct = F.abs(F.col("pct_change"))
    pred_cls = (
        F.when(abs_prev < 2, "low").when(abs_prev < 5, "medium").otherwise("high")
    )
    act_cls = F.when(abs_pct < 2, "low").when(abs_pct < 5, "medium").otherwise("high")
    return base.select(
        "ticker",
        "date",
        pred_cls.alias("predicted_volatility_class"),
        exact.round_like_duckdb(abs_prev, 4).alias("predicted_volatility"),
        (F.lit(0.5) + (F.col("volume") % 50).cast("double") / 100.0).alias(
            "confidence"
        ),
        F.when(F.col("ticker") % 2 == 0, "v1.0").otherwise("v2.0").alias(
            "model_version"
        ),
        act_cls.alias("actual_volatility_class"),
        F.when(pred_cls == act_cls, 1).otherwise(0).alias("is_correct"),
    )
