"""Round 16 optimization regression tests.

Covers: the size-thresholded band-table materialization for
dedup_minhash_lsh (plan shape pinned on BOTH sides of the threshold,
results identical), the observe-riding UPDATE/DELETE hit counts'
no-op contract (zero hits must publish no version), and the compact
bench line contract.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_stocks_with_sentiment_analysis_spark.llmdata import dedup
from etl_stocks_with_sentiment_analysis_spark.operators import sinks


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_minhash_band_materialization_threshold(spark, sf_dir, monkeypatch):
    direct = dedup.dedup_minhash_lsh(spark, sf_dir)
    # below the threshold (default 4 GiB >> any test SF): the band
    # self-join recomputes the signature subtree on both sides — the
    # shingle transform appears twice in the executed plan and no
    # scratch materialization dir is involved
    p_direct = _plan(direct)
    assert p_direct.count("concat_ws( , ws") >= 2 or (
        p_direct.count("transform(sequence(0") >= 2
    ), "direct shape should evaluate the shingle subtree on both sides"

    # above the threshold: the band table is written once and the
    # self-join reads it back — the executed plan scans the scratch
    # parquet and contains NO shingle recomputation
    monkeypatch.setattr(dedup, "_LSH_MATERIALIZE_BYTES", 0)
    mat = dedup.dedup_minhash_lsh(spark, sf_dir)
    p_mat = _plan(mat)
    assert "lshband_mat_" in p_mat, "materialized shape should scan scratch"
    assert "transform(sequence(0" not in p_mat, (
        "materialized shape must not recompute the shingle pipeline "
        "in the pair join"
    )

    # identical result set on both sides of the threshold
    a = {tuple(r) for r in direct.collect()}
    b = {tuple(r) for r in mat.collect()}
    assert a == b


def test_materialized_bands_stay_live_per_sf_dir(spark, sf_dir, monkeypatch):
    # the band scratch prefix is per sf_dir: building the second frame
    # must not delete the first one's live scratch parquet
    monkeypatch.setattr(dedup, "_LSH_MATERIALIZE_BYTES", 0)
    other = os.path.join(os.path.dirname(os.path.abspath(sf_dir)), "sf0.01")
    if not os.path.isdir(other):
        pytest.skip(f"no {other}")
    frames = [dedup.dedup_minhash_lsh(spark, d) for d in (sf_dir, other)]
    for df in frames:
        assert "lshband_mat_" in _plan(df)
        df.collect()


def test_update_delete_noop_publishes_no_version(spark, tmp_path):
    target = str(tmp_path / "noop_t")
    df = spark.createDataFrame(
        [(1, 10), (2, 20)], "k BIGINT, v BIGINT"
    )
    sinks.upsert(spark, target, df, ["k"], commit_mode="manifest")
    ver0 = sinks._latest_manifest(target)[0]
    # zero-hit UPDATE and DELETE: return 0 and publish NOTHING (the
    # observed-count refusal path removes the unpublished snapshot)
    assert sinks.update_manifest_table(spark, target, {"v": "v + 1"},
                                       "k = 999") == 0
    assert sinks.delete_from_manifest_table(spark, target, "k = 999") == 0
    assert sinks._latest_manifest(target)[0] == ver0
    # no orphaned snapshot dirs either
    from etl_stocks_with_sentiment_analysis_spark.operators import fsio
    snaps = [e.name for e in fsio.list_status(target)
             if e.name.startswith("snap-")]
    assert len(snaps) == 1  # only the original upsert's snapshot
    # hit paths still count exactly
    assert sinks.update_manifest_table(spark, target, {"v": "v + 1"},
                                       "k = 1") == 1
    assert sinks.delete_from_manifest_table(spark, target, "k = 2") == 1
    rows = {tuple(r) for r in
            sinks.read_manifest_table(spark, target).collect()}
    assert rows == {(1, 11)}


def test_delete_without_where_constant_predicate_fallback(spark, tmp_path):
    # DELETE with a constant-true predicate: Filter(false) on the kept
    # side prunes the CollectMetrics node — the fallback count must
    # still return the exact deleted-row count
    target = str(tmp_path / "trunc_t")
    df = spark.createDataFrame([(i, i) for i in range(5)],
                               "k BIGINT, v BIGINT")
    sinks.upsert(spark, target, df, ["k"], commit_mode="manifest")
    assert sinks.delete_from_manifest_table(spark, target, "true") == 5
    assert sinks.read_manifest_table(spark, target).count() == 0


def test_plan_memo_isolated_per_session_without_pinning(spark, tmp_path):
    # r16 ADVICE fix: the memo keys on the session UUID string (values
    # never reference the key), so (a) two sessions never share a plan
    # and (b) entries cannot pin a session via its own memo
    target = str(tmp_path / "memo_iso")
    df = spark.createDataFrame([(1, 10)], "k BIGINT, v BIGINT")
    sinks.upsert(spark, target, df, ["k"], commit_mode="manifest")
    _, man = sinks._latest_manifest(target)
    a1 = sinks._read_manifest_dirs(spark, target, man)
    a2 = sinks._read_manifest_dirs(spark, target, man)
    assert a1 is a2
    clone = spark.newSession()
    b1 = sinks._read_manifest_dirs(clone, target, man)
    assert b1 is not a1, "a session clone must build its own plan"
    assert b1.sparkSession is clone
    # the memo is a plain bounded dict keyed by UUID strings — no
    # WeakKey machinery whose keys the values can pin
    assert all(isinstance(k[0], str) for k in sinks._DIRS_PLAN_MEMO)


def test_bench_compact_line_fits_driver_tail():
    # the driver stores only the last 2,000 chars of bench stdout; the
    # printed contract line must stay well under it. Reconstruct the
    # compact dict with the real headline key set and worst-case
    # float widths.
    import bench

    compact = {
        "metric": "headline_suite_seconds",
        "value": 99999.999,
        "unit": "sec",
        "queries": {k: 99999.999 for k in bench.HEADLINE},
        "sf": 0.1,
        "errors": 0,
        "substages": {
            "similarity_index_probe": {"build_s": 99.999, "probe_s": 9.999},
            "dedup_index_probe": {"build_s": 99.999, "probe_s": 9.999},
            "streaming_manifest_readstream": {
                "drain_walls_s": [99.999, 99.999]
            },
        },
        "value_total_work": 99999.999,
        "footer_stats": {"used": 99999, "fallback": 99999},
    }
    line = json.dumps(compact)
    assert len(line) <= 1500, len(line)
