"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload daily_pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. The inputs for the seed are generated
(once, then cached under ``.perfbench/inputs``), then ``worker.py``
runs the workload in a fresh Python process with the repository root
as working directory and on ``PYTHONPATH``, on ``local[<cores>]``.
The last line of standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the worker runs with the Spark
event log on and the metrics are the per-layer ones. The exit code is
0 only when every operation and correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
ENGINE = "etl_stocks_with_sentiment_analysis_spark"
# table_commits runs by hand only: a full evaluation makes 22 runs per
# declared workload in 3420 s, which three workloads do not fit (README.md)
WORKLOADS = ("daily_pipeline", "table_commits", "corpus_dedup")
# one invocation ends within this many seconds
WORKER_TIMEOUT_S = 170.0

sys.path.insert(0, HERE)

import gen  # noqa: E402


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _reap(pgid: int) -> None:
    """Stop every process left in the worker's process group (the JVM
    and Python workers Spark started) and wait until they are gone."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def _remove_scratch(pid: int) -> None:
    """Remove the engine scratch directories a finished worker created
    (the engine names them ``<prefix><pid>-<random>``)."""
    base = os.path.join(ROOT, ".scratch")
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        if re.search(rf"(^|_){pid}-", name):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def run_worker(workload: str, inputs: str, seed: int, seconds: float, trace: int,
               deadline: float) -> dict | None:
    """Run one workload in a fresh process; returns its result dict,
    or None when it crashed or ran out of time."""
    run_dir = os.path.join(STATE, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    launch = time.time()
    proc = None
    try:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
             "--inputs", inputs, "--work", run_dir, "--result", result_path,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--launch", repr(launch), "--cores", str(cores())],
            cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            print(f"{workload}: worker timed out", file=sys.stderr)
        finally:
            _reap(proc.pid)
            proc.wait()
        if not os.path.exists(result_path):
            return None
        with open(result_path) as f:
            result = json.load(f)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(STATE, "traces",
                                            f"{workload}-s{seed}-t{trace}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if proc is not None:
            _remove_scratch(proc.pid)
    return result


def _history_path(workload: str, scale: str) -> str:
    return os.path.join(STATE, "history", f"{workload}-{scale}.jsonl")


def untraced_step_s(workload: str, scale: str) -> list[float]:
    path = _history_path(workload, scale)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line)["step_s"] for line in f if line.strip()]


def one(workload: str, seed: int, seconds: float, trace: int, scale: str) -> int:
    spec = declared()
    names = spec["per_layer" if trace else "end_to_end"]
    start = time.time()
    t0 = time.perf_counter()
    inputs = gen.generate(os.path.join(STATE, "inputs"), scale, seed)
    gen_s = time.perf_counter() - t0
    res = run_worker(workload, inputs, seed, seconds, trace, start + WORKER_TIMEOUT_S)
    if res is None:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    print(f"{workload}: seed={seed} inputs_gen_s={gen_s:.3f} setup_s={res.get('setup_s', 0):.3f} "
          f"steps={res.get('steps')} errors={res.get('errors')}", file=sys.stderr)
    if trace:
        values = dict(res["layer"])
        step = res["e2e"].get("step_s", {}).get("value")
        ref = untraced_step_s(workload, scale)
        if step and ref:
            values["trace.overhead_frac"] = step / statistics.median(ref) - 1.0
        else:
            values["trace.overhead_frac"] = 0.0
            print(f"{workload}: no untraced run recorded in this checkout; "
                  "trace.overhead_frac reads 0", file=sys.stderr)
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in names if m["name"] in values}
    else:
        metrics = {m["name"]: res["e2e"][m["name"]] for m in names if m["name"] in res["e2e"]}
        if res["failed"] == 0 and "step_s" in res["e2e"]:
            os.makedirs(os.path.dirname(_history_path(workload, scale)), exist_ok=True)
            with open(_history_path(workload, scale), "a") as f:
                f.write(json.dumps({"seed": seed, "step_s": res["e2e"]["step_s"]["value"]})
                        + "\n")
    missing = [m["name"] for m in names if m["name"] not in metrics]
    if missing:
        print(f"{workload}: metrics not measured: {missing}", file=sys.stderr)
    correct = res["failed"] == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]) + (1 if missing else 0),
                      "metrics": metrics}))
    return 0 if correct else 1


def _terminate(signum, frame):
    # raise inside the wait so run_worker's finally reaps the worker
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(gen.SCALES), default="bench")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"engine package {ENGINE}/ not found next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    seconds = args.seconds if args.seconds is not None else declared()["run_seconds"]
    todo = ([w["name"] for w in declared()["workloads"]] if args.workload == "all"
            else (args.workload,))
    # one workload failing still lets the others report
    codes = [one(w, args.seed, seconds, args.trace, args.scale) for w in todo]
    return max(codes)


if __name__ == "__main__":
    sys.exit(main())
