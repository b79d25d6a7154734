"""M9/U3 — inference pipeline (`/root/reference/ml/predict.py:109-157`):
features → latest row per ticker (W10) → MLlib transform → confidence
(max class probability) → next-business-day stamp (F12) → upsert (S4).
"""

from __future__ import annotations

import os

from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import sinks
from ..functions.localframe import local_rows_df
from ..plans import panel
from ..registry import register
from . import tracking
from .features import LABELS, feature_matrix
from .train import TrainResult, _label_fill, train, train_gbt

from pyspark.ml.feature import VectorAssembler

from .features import BASE_FEATURES

# One model per sf_dir serves every registered ML key in a harness run
# (M4/M6/M7/U3/M9 all reuse it) — the iterative fit happens once.
_TRAIN_CACHE: dict[str, TrainResult] = {}


def cached_train(spark: SparkSession, sf_dir: str) -> TrainResult:
    if sf_dir not in _TRAIN_CACHE:
        _TRAIN_CACHE[sf_dir] = train(spark, sf_dir, num_trees=20, max_depth=6)
    return _TRAIN_CACHE[sf_dir]


def predict_next_day(
    spark: SparkSession, sf_dir: str, model, model_version: str
) -> DataFrame:
    """Score the latest row per ticker; returns the prediction-sink
    schema (`ml/data_loader.py:123-136`)."""
    df = _label_fill(feature_matrix(spark, sf_dir))
    w = Window.partitionBy("ticker").orderBy(F.desc("date"))
    latest = df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    assembler = VectorAssembler(
        inputCols=BASE_FEATURES, outputCol="features", handleInvalid="keep"
    )
    pred = model.transform(assembler.transform(latest))
    # U3: class index → label string; confidence = max probability.
    label_expr = F.when(F.col("prediction") == 0, LABELS[0]).when(
        F.col("prediction") == 1, LABELS[1]
    ).otherwise(LABELS[2])
    probs = vector_to_array(F.col("probability"))
    cand_dow = (F.dayofweek(F.date_add(F.col("date"), 1)) + 5) % 7
    next_bday = (
        F.when(cand_dow == 5, F.date_add(F.col("date"), 3))
        .when(cand_dow == 6, F.date_add(F.col("date"), 2))
        .otherwise(F.date_add(F.col("date"), 1))
    )
    return pred.select(
        "ticker",
        next_bday.alias("date"),
        label_expr.alias("predicted_volatility_class"),
        F.round(F.col("volatility"), 4).alias("predicted_volatility"),
        F.round(F.array_max(probs), 4).alias("confidence"),
        F.lit(model_version).alias("model_version"),
        F.current_timestamp().alias("created_at"),
    )


def run_inference(
    spark: SparkSession,
    sf_dir: str,
    target: str,
    num_trees: int = 50,
    log_dir: str | None = None,
) -> DataFrame:
    """End-to-end M9: train → log run → predict with the PROMOTED
    model_version (registry semantics, `ml/mlflow_utils.py:178-241`)
    → upsert into the sink table."""
    result = train(spark, sf_dir, num_trees=num_trees)
    model_version = result.model_version
    if log_dir is not None:
        tracking.log_run(
            spark,
            log_dir,
            result.model_version,
            {"num_trees": num_trees, "model": "rf"},
            result.metrics,
        )
        model_version = tracking.promoted(spark, log_dir).first()["model_version"]
    preds = predict_next_day(spark, sf_dir, result.model, model_version)
    sinks.upsert(
        spark, target, preds, ["ticker", "date", "model_version"], partition_col="date"
    )
    return preds


# The registered ML keys are SELF-VERIFYING: model outputs (class,
# confidence, importance, metric values) are not SQL-reproducible, so
# each wrapper emits the deterministic SQL-derivable columns plus
# in-plan invariant booleans the DuckDB oracle asserts literally
# (same pattern as the sketch keys in operators/aggregations.py). The
# unconstrained model outputs stay available through the underlying
# functions (predict_next_day, TrainResult, tracking.*).

_INFER_ORACLE = panel.sql_with(
    *panel.PANEL_CHG,
    body="""
SELECT ticker,
       CASE WHEN ISODOW(date + 1) - 1 = 5 THEN date + 3
            WHEN ISODOW(date + 1) - 1 = 6 THEN date + 2
            ELSE date + 1 END AS date,
       ROUND(COALESCE(volatility, 0), 4) AS predicted_volatility,
       'rf-v1.0' AS model_version,
       CAST(1 AS BIGINT) AS class_ok,
       CAST(1 AS BIGINT) AS conf_ok
FROM (
  SELECT ticker, date, volatility,
         ROW_NUMBER() OVER (PARTITION BY ticker ORDER BY date DESC) AS rn
  FROM (
    SELECT ticker, date, (high - low) / NULLIF(close, 0) * 100 AS volatility,
           LEAD(pct_change, 1) OVER (PARTITION BY ticker ORDER BY date) AS next_pct
    FROM changes
  ) WHERE next_pct IS NOT NULL
) WHERE rn = 1""",
)


@register("ml_infer_next_day", oracle=_INFER_ORACLE)
def ml_infer_next_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 as a registered query (small forest for harness runtime).

    Deterministic surface: one row per ticker (latest feature row),
    next-business-day stamp, rounded volatility, constant model
    version — all reproduced by the oracle from the changes CTE. The
    model-dependent class/confidence are exposed as the invariant
    booleans ``class_ok`` (∈ {low, medium, high}) and ``conf_ok``
    (max 3-class probability ∈ [⅓, 1]); full predictions remain
    available via :func:`predict_next_day`."""
    result = cached_train(spark, sf_dir)
    preds = predict_next_day(spark, sf_dir, result.model, result.model_version)
    class_ok = F.col("predicted_volatility_class").isin(*LABELS)
    conf_ok = (F.col("confidence") >= 0.333) & (F.col("confidence") <= 1.0)
    return preds.select(
        "ticker",
        "date",
        "predicted_volatility",
        "model_version",
        class_ok.cast("long").alias("class_ok"),
        conf_ok.cast("long").alias("conf_ok"),
    )


_METRICS = ("accuracy", "f1", "weightedPrecision", "weightedRecall")
# Metric floors: accuracy must beat 3-class random (the reference's own
# bar, ml/README.md:180-183); every evaluator metric lives in [0, 1].
_METRIC_FLOORS = {"accuracy": 0.34, "f1": 0.0, "weightedPrecision": 0.0,
                  "weightedRecall": 0.0}

_METRICS_ORACLE = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{m}', CAST(1 AS BIGINT), CAST(1 AS BIGINT))" for m in _METRICS
    )
    + ") AS t(metric, meets_floor, within_unit)"
)


def _metrics_df(spark: SparkSession, metrics: dict) -> DataFrame:
    rows = [
        (
            m,
            1 if float(metrics[m]) > _METRIC_FLOORS[m] else 0,
            1 if 0.0 <= float(metrics[m]) <= 1.0 else 0,
        )
        for m in _METRICS
    ]
    return local_rows_df(
        spark,
        rows, "metric STRING, meets_floor BIGINT, within_unit BIGINT"
    )


@register("ml_train_rf", oracle=_METRICS_ORACLE)
def ml_train_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4+M5+M6 — RandomForest fit (balanced weight column) evaluated
    on the chronological holdout (`/root/reference/ml/train.py:52-143`).
    Self-verifying: emits per-metric floor/range booleans the oracle
    asserts (raw values are fit-dependent; exact values live in
    TrainResult.metrics and ML_BASELINE.md)."""
    result = cached_train(spark, sf_dir)
    return _metrics_df(spark, result.metrics)


_PROMOTE_ORACLE = panel.sql_with(
    *panel.PANEL_CHG,
    panel.PREDICTIONS_CTE,
    body="""
SELECT model_version,
       '{"n_rows": ' || CAST(n AS VARCHAR) || '}' AS params,
       '{"n_rows": ' || CAST(n AS VARCHAR) || '}' AS metrics,
       (SELECT CAST(COUNT(DISTINCT model_version) AS BIGINT) FROM predictions)
         AS n_runs
FROM (
  SELECT model_version, COUNT(*) AS n,
         ROW_NUMBER() OVER (ORDER BY model_version DESC) AS rn
  FROM predictions GROUP BY model_version
) WHERE rn = 1""",
)


@register("ml_tracking_promote", oracle=_PROMOTE_ORACLE)
def ml_tracking_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 — registry round-trip as a DATA-DRIVEN query (r5: the run
    set is no longer a hardcoded pair): one run is logged per distinct
    `model_version` found in the predictions table, in version order,
    with params/metrics derived from that version's row count. The
    promoted (latest-logged = max-version) run comes back with the run
    count, so the oracle — pure SQL over the same predictions CTE —
    verifies append-only history, latest-wins promotion, AND the
    canonical-JSON serialization against data the key never hardcodes
    (`ml/mlflow_utils.py:32-241`). The driver-side collect is a
    per-model-version aggregate (bounded by the model catalog size,
    never row count)."""
    preds = panel.predictions(spark, sf_dir)
    versions = sorted(
        (r["model_version"], r["n"])
        for r in preds.groupBy("model_version").agg(F.count("*").alias("n")).collect()
    )
    log_dir = os.path.join(sinks.scratch_dir("mlruns_"), "runs")
    for mv, n in versions:
        tracking.log_run(
            spark, log_dir, mv, {"n_rows": n}, {"n_rows": n}, f"a/{mv}"
        )
    n_runs = tracking.runs(spark, log_dir).count()
    return tracking.promoted(spark, log_dir).select(
        "model_version",
        "params",
        "metrics",
        F.lit(n_runs).cast("long").alias("n_runs"),
    )


_LIFECYCLE_ORACLE = panel.sql_with(
    *panel.PANEL_CHG,
    panel.PREDICTIONS_CTE,
    body="""
SELECT 'vol-clf' AS model_name,
       CAST(rn AS BIGINT) AS version,
       CASE WHEN rn = n_total THEN 'Production' ELSE 'Archived' END AS stage,
       best_mv AS best_by_metric,
       last_mv AS production_model_version,
       CAST(n_total AS BIGINT) AS n_versions
FROM (
  SELECT model_version,
         ROW_NUMBER() OVER (ORDER BY model_version) AS rn,
         COUNT(*) OVER () AS n_total,
         FIRST_VALUE(model_version)
           OVER (ORDER BY n DESC, model_version DESC) AS best_mv,
         FIRST_VALUE(model_version)
           OVER (ORDER BY model_version DESC) AS last_mv
  FROM (SELECT model_version, COUNT(*) AS n FROM predictions
        GROUP BY model_version)
)""",
)


@register("ml_registry_lifecycle", oracle=_LIFECYCLE_ORACLE)
def ml_registry_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 — full registry lifecycle as a DATA-DRIVEN query (r5: the
    version set is no longer a hardcoded pair): one run is logged and
    registered per distinct `model_version` in the predictions table,
    each promoted to Production in version order — so every EARLIER
    version must auto-archive (MLflow's single-production convention)
    across however many versions the DATA contains. Returns the final
    per-version stages plus the best run by the logged row-count
    metric and the live Production model; the oracle derives all of it
    from the same predictions CTE (`ml/mlflow_utils.py:141-210`). The
    driver-side collect is a per-model-version aggregate, bounded by
    the model catalog size."""
    preds = panel.predictions(spark, sf_dir)
    catalog = sorted(
        (r["model_version"], r["n"])
        for r in preds.groupBy("model_version").agg(F.count("*").alias("n")).collect()
    )
    log_dir = os.path.join(sinks.scratch_dir("mlreg_"), "runs")
    for mv, n in catalog:
        rid = tracking.log_run(
            spark, log_dir, mv, {"n_rows": n}, {"n_rows": n}, f"a/{mv}"
        )
        v = tracking.register_model(spark, log_dir, rid, "vol-clf")
        tracking.transition_stage(spark, log_dir, "vol-clf", v, "Production")
    best = tracking.best_run(spark, log_dir, metric="n_rows").first()["model_version"]
    live = tracking.production_model(spark, log_dir, "vol-clf").first()
    return tracking.model_versions(spark, log_dir).select(
        "model_name",
        F.col("version").cast("long").alias("version"),
        "stage",
        F.lit(best).alias("best_by_metric"),
        F.lit(live["model_version"]).alias("production_model_version"),
        F.lit(len(catalog)).cast("long").alias("n_versions"),
    )


_GBT_CACHE: dict[str, TrainResult] = {}


@register("ml_train_gbt", oracle=_METRICS_ORACLE)
def ml_train_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 — gradient-boosted trainer (xgboost when present, else
    OneVsRest over MLlib GBTClassifier) evaluated on the chronological
    holdout (`/root/reference/ml/train.py:52-61`). Small boosting
    budget for harness runtime. Same self-verifying metric-floor
    surface as ml_train_rf; tests/test_ml.py holds the raw floor."""
    if sf_dir not in _GBT_CACHE:
        # max_iter=5/depth=4 measured IDENTICAL holdout accuracy to
        # 8/5 (0.4214 vs 0.4205 at sf0.01) at ~half the fit wall —
        # boosting saturates early on this 15-feature matrix.
        _GBT_CACHE[sf_dir] = train_gbt(spark, sf_dir, max_iter=5, max_depth=4)
    result = _GBT_CACHE[sf_dir]
    return _metrics_df(spark, result.metrics)


_IMPORTANCE_ORACLE = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"(CAST({r} AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT),"
        " CAST(1 AS BIGINT))"
        for r in range(1, 16)
    )
    + ") AS t(rank, feature_known, within_unit, nonincreasing)"
)


@register("ml_feature_importance", oracle=_IMPORTANCE_ORACLE)
def ml_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7 — top-15 Gini feature importances
    (`/root/reference/ml/train.py:146-154`). Self-verifying: the
    specific (feature, weight) ranking is fit-dependent, so the key
    emits per-rank invariants — the feature is a known BASE_FEATURE,
    the importance lies in [0, 1], and the list is sorted
    non-increasing. Raw importances stay available on TrainResult."""
    result = cached_train(spark, sf_dir)
    rows = []
    prev = None
    for rank, (name, imp) in enumerate(result.feature_importances, start=1):
        imp = float(imp)
        rows.append(
            (
                rank,
                1 if name in BASE_FEATURES else 0,
                1 if 0.0 <= imp <= 1.0 else 0,
                1 if prev is None or imp <= prev + 1e-12 else 0,
            )
        )
        prev = imp
    return local_rows_df(
        spark,
        rows,
        "rank BIGINT, feature_known BIGINT, within_unit BIGINT,"
        " nonincreasing BIGINT",
    )


_PREDICT_ORACLE = panel.sql_with(
    *panel.PANEL_CHG,
    body="""
SELECT ticker, date,
       CAST(1 AS BIGINT) AS class_ok,
       CAST(1 AS BIGINT) AS conf_ok
FROM (
  SELECT ticker, date,
         LEAD(pct_change, 1) OVER (PARTITION BY ticker ORDER BY date) AS next_pct
  FROM changes
) WHERE next_pct IS NOT NULL""",
)


@register("udf_model_predict", oracle=_PREDICT_ORACLE)
def udf_model_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 — batch model scoring (`ml/predict.py:83-91`): MLlib
    `model.transform` over the full feature matrix; confidence = max
    class probability via `vector_to_array` (JVM-side, no Python UDF).

    Self-verifying: the scored row set (every feature-matrix row) is
    SQL-derivable and checked exactly; the model-dependent class and
    confidence are exposed as invariant booleans (label ∈ LABELS,
    max 3-class probability ∈ [⅓, 1])."""
    result = cached_train(spark, sf_dir)
    df = _label_fill(feature_matrix(spark, sf_dir))
    assembler = VectorAssembler(
        inputCols=BASE_FEATURES, outputCol="features", handleInvalid="keep"
    )
    pred = result.model.transform(assembler.transform(df))
    label_expr = (
        F.when(F.col("prediction") == 0, LABELS[0])
        .when(F.col("prediction") == 1, LABELS[1])
        .otherwise(LABELS[2])
    )
    probs = vector_to_array(F.col("probability"))
    conf = F.round(F.array_max(probs), 4)
    return pred.select(
        "ticker",
        "date",
        label_expr.isin(*LABELS).cast("long").alias("class_ok"),
        ((conf >= 0.333) & (conf <= 1.0)).cast("long").alias("conf_ok"),
    )
