"""Tests of the benchmark itself (not of the engine).

    python -m pytest perfbench/tests -q

The smoke test starts Spark several times and takes a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import tracing  # noqa: E402
import worker  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _digest(gen.generate(str(tmp_path / "a"), "tiny", 7))
    b = _digest(gen.generate(str(tmp_path / "b"), "tiny", 7))
    c = _digest(gen.generate(str(tmp_path / "c"), "tiny", 8))
    assert a == b
    assert set(a) == set(c)
    tables = [k for k in a if k.endswith(".parquet")]
    assert len(tables) == 9
    assert all(a[k] != c[k] for k in tables)


def test_event_log_parser_on_recorded_fixture():
    # a tagged two-stage groupBy (2 map + 2 reduce tasks) and an untagged
    # count (2 map + 1 reduce tasks), recorded from Spark 4.1 on local[2]
    with open(os.path.join(HERE, "fixtures", "eventlog_small.jsonl")) as f:
        jobs = tracing.parse_event_log(f)
    assert [(j.id, j.group, j.tasks) for j in jobs] == [(0, "pb-0", 4), (1, None, 3)]
    assert all(j.end > j.start for j in jobs)
    assert all(j.cpu_s > 0 and j.run_s > 0 and j.shuffle_write > 0 for j in jobs)
    assert all(j.spill == 0 for j in jobs)

    tr = tracing.Tracer()
    tr.add_span("outer", jobs[0].start - 1, jobs[1].end + 1)
    tr.add_span("inner", jobs[1].start - 0.01, jobs[1].end, parent=0)
    att = tracing.attribute(jobs, tr)
    assert att.by_span == {0: [jobs[0]], 1: [jobs[1]]}  # group, then time
    assert (att.untagged, att.total) == (1, 2)
    assert tracing.self_time(tr, 0) == pytest.approx(tr.spans[0].wall - tr.spans[1].wall)


def test_stream_jobs_go_to_the_micro_batch_started_before_them():
    tr = tracing.Tracer()
    tr.add_span("run.step", 0.0, 10.0)
    tr.add_span("streaming.drain", 1.0, 2.0)
    tr.add_span("streaming.drain", 5.0, 6.0)
    tr.stream_spans["q1"] = "streaming.drain"
    jobs = [tracing.Job(0, None, "q1", 0.5), tracing.Job(1, None, "q1", 1.5),
            tracing.Job(2, None, "q1", 7.0), tracing.Job(3, "pb-0", None, 3.0)]
    att = tracing.attribute(jobs, tr)
    assert {k: [j.id for j in v] for k, v in att.by_span.items()} == {1: [1], 2: [2], 0: [3]}
    assert (att.untagged, att.unattributed) == (0, 1)  # job 0 precedes every batch


def test_union_length_merges_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1


def test_tail_needs_ten_samples_beyond():
    assert worker.tail([1.0] * 5) == (1.0, 100.0)
    value, pct = worker.tail([float(i) for i in range(100)])
    assert pct == 90 and value == pytest.approx(89.0, abs=1)


def test_declared_names_are_valid_and_match_the_worker():
    spec = _declared()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert len(spec["per_layer"]) <= 128
    # every span metric the worker can emit is declared
    per = {m["name"] for m in spec["per_layer"]}
    for span in worker.SPANS:
        for suffix in ("wall_s", "jobs", "task_cpu_s", "shuffle_write_bytes", "spill_bytes"):
            assert f"{span}.{suffix}" in per
    for name in worker.BYPASSABLE:
        assert name in per


def _run(workload: str, trace: int) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    return p.returncode, json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["daily_pipeline", "table_commits", "corpus_dedup"])
def test_smoke_tiny_inputs(workload):
    spec = _declared()
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        code, out = _run(workload, trace)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert code == 0 and out["correct"] and out["failed"] == 0, out
        assert out["attempted"] >= 1
        assert set(out["metrics"]) == {m["name"] for m in spec[kind]}
        units = {m["name"]: m["unit"] for m in spec[kind]}
        for name, m in out["metrics"].items():
            assert NAME.match(name)
            assert m["unit"] == units[name]
            assert isinstance(m["value"], (int, float))
        if trace:
            assert out["metrics"]["trace.top_span_coverage"]["value"] >= 0.95
