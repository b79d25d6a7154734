import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_stocks_with_sentiment_analysis_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def op_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group and return ``(result, jobs,
    tasks)``: the Spark jobs it started and the tasks those jobs ran
    (skipped stages run none), read from the status tracker once the
    listener bus has delivered every event."""
    import uuid

    sc = spark.sparkContext
    group = f"op_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "op_jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            st = tracker.getStageInfo(sid)
            tasks += st.numCompletedTasks if st is not None else 0
    return out, len(jobs), tasks
