"""The retrain's one persisted matrix: its partitioning, class weights,
chronological boundary and confusion-cell holdout metrics, checked
against the rules they replace (a broadcast-joined weight frame, a
`percent_rank` window, MulticlassClassificationEvaluator), plus job
budgets for training and scoring."""

import pytest
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.sql import Window
from pyspark.sql import functions as F

from conftest import op_jobs
from etl_stocks_with_sentiment_analysis_spark.ml import predict as mlpredict
from etl_stocks_with_sentiment_analysis_spark.ml import train as mltrain
from etl_stocks_with_sentiment_analysis_spark.ml.features import LABELS, feature_matrix

_METRICS = ("accuracy", "f1", "weightedRecall", "weightedPrecision")


@pytest.fixture(scope="module")
def cold(spark, sf_dir):
    """assembled_split from an empty split cache, then a 20-tree fit,
    each with the (jobs, tasks) it started."""
    mltrain._SPLIT_CACHE.pop((sf_dir, False), None)
    split, *split_cost = op_jobs(spark, lambda: mltrain.assembled_split(spark, sf_dir))
    res, *train_cost = op_jobs(
        spark, lambda: mltrain.train(spark, sf_dir, num_trees=20, max_depth=6)
    )
    return split, tuple(split_cost), res, tuple(train_cost)


def _per_core(n: int, spark) -> float:
    # budgets were measured with defaultParallelism 4; the stages over
    # the coalesced matrix run one task per core, so more cores may
    # run proportionally more tasks
    return n * max(spark.sparkContext.defaultParallelism, 4) / 4


def test_persisted_matrix_is_core_sized(spark, cold):
    (atr, ate), *_ = cold
    parallelism = spark.sparkContext.defaultParallelism
    for half in (atr, ate):
        assert half.rdd.getNumPartitions() <= parallelism
        assert "InMemoryRelation" in half._jdf.queryExecution().optimizedPlan().toString()


def _old_weights(labeled):
    # the weight rule this replaced: k class counts, their total over a
    # window, broadcast-joined back per row
    counts = labeled.groupBy("label").agg(F.count("*").alias("n_class"))
    counts = counts.withColumn(
        "n_total", F.sum("n_class").over(Window.partitionBy())
    ).select(
        "label",
        (F.col("n_total") / (F.lit(len(LABELS)) * F.col("n_class"))).alias("weight"),
    )
    return {r["label"]: r["weight"] for r in labeled.join(F.broadcast(counts), "label")
            .select("label", "weight").distinct().collect()}


def test_weights_equal_broadcast_join_rule(spark, sf_dir, cold):
    (atr, ate), *_ = cold
    old = _old_weights(mltrain._label_fill(feature_matrix(spark, sf_dir)))
    new = {
        r["label"]: r["weight"]
        for r in atr.unionByName(ate).select("label", "weight").distinct().collect()
    }
    assert new == old  # the same doubles, not merely close
    prepared = mltrain.prepare(feature_matrix(spark, sf_dir))
    assert {r["label"]: r["weight"] for r in
            prepared.select("label", "weight").distinct().collect()} == old


def _window_boundary(dates_df, test_frac):
    ranked = dates_df.withColumn("dr", F.percent_rank().over(Window.orderBy("date")))
    return ranked.filter(F.col("dr") <= 1 - test_frac).agg(F.max("date")).first()[0]


def test_boundary_equals_percent_rank_rule(spark, sf_dir, cold):
    dates_df = feature_matrix(spark, sf_dir).select("date").distinct()
    dates = [r[0] for r in dates_df.collect()]
    for frac in (mltrain.TEST_FRAC, 0.0, 0.1, 0.5, 0.99):
        assert mltrain._chrono_boundary(dates, frac) == _window_boundary(dates_df, frac)
    one = dates_df.limit(1)
    assert mltrain._chrono_boundary([one.first()[0]], 0.3) == _window_boundary(one, 0.3)
    assert mltrain._chrono_boundary([], 0.3) is None
    # the split itself cuts at that boundary
    (atr, ate), *_ = cold
    b = mltrain._chrono_boundary(dates, mltrain.TEST_FRAC)
    assert atr.agg(F.max("date")).first()[0] == b < ate.agg(F.min("date")).first()[0]


def _evaluator_metrics(pred):
    return {
        m: MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName=m
        ).evaluate(pred)
        for m in _METRICS
    }


def test_holdout_metrics_equal_evaluator(spark, cold):
    *_, res, _ = cold
    # every class is a label; class 1 is never predicted
    cells = {(0, 0): 7, (0, 2): 3, (1, 0): 2, (1, 2): 5, (2, 2): 11, (2, 0): 4}
    synthetic = spark.createDataFrame(
        [(float(l), float(p)) for (l, p), n in cells.items() for _ in range(n)],
        "label DOUBLE, prediction DOUBLE",
    )
    for pred in (synthetic, res.test_predictions.select("label", "prediction")):
        got = mltrain._holdout_metrics(pred)
        want = _evaluator_metrics(pred)
        for m in _METRICS:
            assert abs(got[m] - want[m]) <= 1e-12, (m, got[m], want[m])


def test_scoring_equals_scoring_prepared_frame(spark, sf_dir, cold, monkeypatch):
    *_, res, _ = cold
    got = mlpredict.predict_next_day(spark, sf_dir, res.model, "t").drop("created_at")
    monkeypatch.setattr(mlpredict, "_label_fill", mltrain.prepare)
    want = mlpredict.predict_next_day(spark, sf_dir, res.model, "t").drop("created_at")
    assert sorted(got.collect()) == sorted(want.collect())


def test_train_and_score_job_budget(spark, sf_dir, cold):
    """Budgets are the counts measured on sf0.001 with 4 cores. The
    split's allows the first read of the inputs in a process (two
    more jobs than a warm read)."""
    _, (split_jobs, split_tasks), res, (train_jobs, train_tasks) = cold
    assert split_jobs <= 10 and split_tasks <= _per_core(16, spark)
    assert train_jobs <= 13 and train_tasks <= _per_core(71, spark)
    _, jobs, tasks = op_jobs(
        spark,
        lambda: mlpredict.predict_next_day(spark, sf_dir, res.model, "t").collect(),
    )
    assert jobs <= 6 and tasks <= _per_core(6, spark)
