"""Spans around calls into the engine, and the Spark event-log parser
that turns them into per-layer statistics.

A span records a name, start, end and its parent span. In a traced run
each span also sets the Spark job group of the calling thread, so the
jobs it starts are tagged with it in the event log. After the run the
log's ``SparkListenerJobStart`` / ``JobEnd`` / ``TaskEnd`` events are
folded into per-job task metrics and each job is attributed to a span:

1. a job carrying ``sql.streaming.queryId`` of a registered query goes
   to the latest span of that query's span name (one per micro-batch)
   started before the job;
2. a job carrying a ``pb-<id>`` job group goes to that span;
3. any other job (engine-internal thread pools run without the
   caller's group) goes to the innermost span open when it was
   submitted, and counts toward ``trace.untagged_job_frac``.

Spans are kept in memory and written out only when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

_GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``tag_jobs`` it also tags Spark jobs.

    Untraced runs use the same spans as plain timers, so end-to-end
    metrics are computed the same way in both modes."""

    def __init__(self, sc=None, tag_jobs: bool = False, run_id: str = ""):
        self.sc = sc
        self.tag_jobs = tag_jobs and sc is not None
        self.run_id = run_id
        self.spans: list[Span] = []
        self.stream_spans: dict[str, str] = {}  # streaming queryId -> span name
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        self._stack.append(s.id)
        self._set_group(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def add_span(self, name: str, start: float, end: float,
                 parent: int | None = None) -> Span:
        """Record a span measured elsewhere (e.g. on another thread)."""
        s = Span(len(self.spans), name, parent, start, end)
        self.spans.append(s)
        return s

    def _set_group(self, sid: int | None) -> None:
        if not self.tag_jobs:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", self.spans[sid].name)

    def walls(self, name: str) -> list[float]:
        return [s.wall for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"run": self.run_id, "id": s.id, "name": s.name,
                                    "parent": s.parent, "start": s.start,
                                    "end": s.end}) + "\n")


@dataclass
class Job:
    id: int
    group: str | None
    query: str | None
    start: float
    end: float = 0.0
    cpu_s: float = 0.0
    run_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    tasks: int = 0


def parse_event_log(lines) -> list[Job]:
    """Jobs with their summed task metrics, from event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                      props.get("sql.streaming.queryId"),
                      ev.get("Submission Time", 0) / 1000.0)
            jobs[job.id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = job.id
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job.tasks += 1
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.run_s += m.get("Executor Run Time", 0) / 1e3
            job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            job.spill += m.get("Disk Bytes Spilled", 0)
            job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for job in jobs.values():
        if not job.end:
            job.end = job.start
    return sorted(jobs.values(), key=lambda j: j.id)


@dataclass
class Attribution:
    by_span: dict[int, list[Job]] = field(default_factory=dict)
    untagged: int = 0
    unattributed: int = 0
    total: int = 0


def attribute(jobs: list[Job], tracer: Tracer) -> Attribution:
    """Assign every job to a span by query id, job group, or time."""
    out = Attribution(total=len(jobs))
    spans = tracer.spans
    for job in jobs:
        sid = None
        stream = tracer.stream_spans.get(job.query) if job.query else None
        if stream is not None:
            before = [s for s in spans if s.name == stream and s.start <= job.start]
            if before:
                sid = max(before, key=lambda s: s.start).id
        elif job.group and job.group.startswith(_GROUP_PREFIX):
            try:
                sid = int(job.group[len(_GROUP_PREFIX):])
            except ValueError:
                sid = None
        if sid is None and stream is None:
            out.untagged += 1
            # innermost span open at submission: latest start wins
            best = None
            for s in spans:
                if s.start <= job.start <= s.end and (best is None or s.start >= best.start):
                    best = s
            sid = best.id if best is not None else None
        if sid is None:
            out.unattributed += 1
            continue
        out.by_span.setdefault(sid, []).append(job)
    return out


def self_time(tracer: Tracer, sid: int) -> float:
    """A span's wall minus the part its child spans cover."""
    s = tracer.spans[sid]
    kids = sorted((c.start, c.end) for c in tracer.spans if c.parent == sid)
    return s.wall - union_length(kids, s.start, s.end)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
