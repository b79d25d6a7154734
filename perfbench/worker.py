"""One benchmark run: start Spark, run one workload, check its outputs.

Started by ``run.py`` as a fresh process with the repository root as
working directory and on ``PYTHONPATH`` (the ``manifest_stream``
source's Python workers import the engine by module name). Writes one
JSON result file; ``run.py`` prints the contract line from it.

Each workload is single-client and closed-loop: the next operation
starts when the previous one has returned. The loop runs for
``--seconds`` (and at least ``MIN_STEPS`` steps); one-shot phases
(retrain, full dedup pass, index builds, the final scan) run once.
Correctness checks run after the timed region.
"""

from __future__ import annotations

import argparse
import datetime as dt
import glob
import json
import os
import re
import statistics
import sys
import threading
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import Tracer, attribute, parse_event_log, self_time, union_length  # noqa: E402

MIN_STEPS = 2
# corpus_dedup: ANN query batches per incoming batch (a query batch
# costs half an incoming one). After the warm-up, the warm samples of
# one run agree within a few percent; runs differ by host speed, which
# more samples per run would not average out.
READS_PER_STEP = 2
# a trading-day batch takes 10-15 s, so one is all a run can afford
DAILY_MIN_STEPS = 1
COMMIT_KEYS = ["ticker", "bucket", "date"]
ANN_K = 5
# Recall floor of the persisted IVF index on the generated clustered
# vectors at nprobe=2. Measured recall@5 was 0.88-0.98 on bench inputs
# (seven seeds) and 0.83-0.88 on tiny ones; a drop below the floor is
# an index defect, not seed-to-seed variation.
ANN_RECALL_FLOOR = 0.75
TRAIN_TREES, TRAIN_DEPTH = 10, 5

# Span names per layer. The end-to-end metrics read the "run.*" spans;
# the per-layer metrics read the rest.
SPANS = (
    "session.start",
    "sinks.upsert",
    "sinks.merge_manifest_table",
    "sinks.read_manifest_table",
    "sqldml.execute_sql",
    "plans.dashboard_query",
    "ml.train",
    "ml.predict_next_day",
    "streaming.drain",
    "llmdata.text_quality",
    "llmdata.minhash_dedup",
    "llmdata.embedding_dedup",
    "llmdata.lsh_build",
    "llmdata.ann_build",
    "llmdata.lsh_probe",
    "llmdata.lsh_append",
    "llmdata.ann_probe",
)
INPUT_SPANS = ("sinks.read_manifest_table", "streaming.drain",
               "llmdata.lsh_probe", "llmdata.ann_probe")
COMMIT_SPANS = ("sinks.upsert", "sinks.merge_manifest_table", "sqldml.execute_sql")
LAYERS = ("session", "sinks", "sqldml", "plans", "ml", "streaming", "llmdata")
BYPASSABLE = ("streaming.microbatches", "streaming.empty_batch_frac",
              "streaming.delivered_ratio", "streaming.visible_s", "llmdata.ann_recall_at_k")


class Run:
    """State of one run: session, spans, counters and samples."""

    def __init__(self, args):
        self.args = args
        self.inputs = args.inputs
        self.work = args.work
        self.tracer = Tracer(run_id=f"{args.workload}-s{args.seed}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.timed_start = 0.0
        self.timed_end = 0.0
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, float] = {}
        self.spark = None
        self.tail = (0.0, 100.0)
        self.n_ops = 0
        self.cas0 = None
        self.commits = self.commit_rows = self.files_added = self.bytes_added = 0

    def span(self, name):
        return self.tracer.span(name)

    def begin_timed(self) -> None:
        from etl_stocks_with_sentiment_analysis_spark.operators import sinks

        self.cas0 = dict(sinks.CAS_STATS)
        self.timed_start = time.time()

    def commit(self, span_name: str, target: str, rows: int, fn, *a, **kw):
        """One timed commit into ``target`` under a layer span. In a
        traced run the table directory is listed before and after, for
        the files and bytes the commit added."""
        before = data_files(target) if self.args.trace else None
        with self.span(span_name):
            out = self.op(fn, *a, **kw)
        if before is not None:
            after = data_files(target)
            added = set(after) - set(before)
            self.files_added += len(added)
            self.bytes_added += sum(after[p] for p in added)
        self.commits += 1
        self.commit_rows += rows
        return out

    def op(self, fn, *a, **kw):
        """Run one operation, counting it; a raise counts as failed."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception as e:  # noqa: BLE001 - a failed op is reported, the run goes on
            traceback.print_exc(limit=3, file=sys.stderr)
            self.fail(f"{getattr(fn, '__name__', fn)}: {type(e).__name__}: {e}")
            return None

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg.splitlines()[0][:300] if msg else "failed")
        print(f"failed: {msg}", file=sys.stderr)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """A correctness check is one more attempted operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}"[:300])
        print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}", file=sys.stderr)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum (percentile 100) when there are too
    few samples for any."""
    xs = sorted(xs)
    for pct in (99.9, 99, 95, 90, 75, 50):
        if round(len(xs) * (100 - pct), 6) >= 1000:
            idx = min(len(xs) - 1, int(round(pct / 100 * (len(xs) - 1))))
            return xs[idx], pct
    return (xs[-1], 100.0) if xs else (0.0, 100.0)


def data_files(path: str) -> dict[str, int]:
    """Data file path -> bytes under a table directory (the manifest
    log and hidden or marker files excluded)."""
    out = {}
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if d != "_manifest_log"]
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(data_files(path).values())


def latest_version(target: str) -> int:
    names = os.listdir(os.path.join(target, "_manifest_log"))
    vs = [int(m.group(1)) for m in (re.match(r"manifest-(\d+)\.json$", n) for n in names) if m]
    return max(vs)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def rows(pdf):
    """Sorted, normalised rows of a pandas frame, as the oracle gate
    compares them."""
    from tools.check_oracle import frame_to_rows

    return frame_to_rows(pdf)


def oracle_rows(con, sql: str):
    return rows(con.execute(sql).df())


def spark_rows(df):
    return rows(df.toPandas())


# ---------------------------------------------------------------------------
# daily_pipeline
# ---------------------------------------------------------------------------

def daily_pipeline(run: Run) -> None:
    """Land a trading day, read it back, enrich, query the dashboard,
    score, land the predictions; a change feed drains the prices.

    Set-up ingests the history into manifest tables with the 12
    dashboard views on top and starts a change-feed stream over
    ``stock_prices``. The timed region is one retrain and then one
    batch per trading day."""
    from pyspark.sql import functions as F

    from etl_stocks_with_sentiment_analysis_spark.ml import predict, train
    from etl_stocks_with_sentiment_analysis_spark.operators import sinks, sqldml
    from etl_stocks_with_sentiment_analysis_spark.plans import panel, views

    spark = run.spark
    hist = os.path.join(run.inputs, "daily", "history")
    full = os.path.join(run.inputs, "daily", "full")
    with open(os.path.join(run.inputs, "daily", "plan.json")) as f:
        plan = json.load(f)
    base = os.path.join(run.work, "daily")
    tables = {n: os.path.join(base, n) for n in
              ("stock_prices", "grok_explanations", "volatility_predictions")}
    prices_t = tables["stock_prices"]
    with run.span("setup.tables"):
        views.create_dashboard_views_on_manifest(spark, hist, base)
        sqldml.bind_sql_table(spark, "grok_explanations", tables["grok_explanations"],
                              register_view=False)
    # the feed starts after the history, so set-up pays no snapshot batch
    query, watcher = start_feed(run, prices_t, ["ticker", "date"], base,
                                starting_version=latest_version(prices_t) + 1)

    def base_frames():
        return panel.base_frames(prices=spark.table("stock_prices"),
                                 explanations=spark.table("grok_explanations"))

    landed = scored = 0
    last_day = plan["cutoff"]
    returned: dict[int, float] = {}
    try:
        v0 = latest_version(prices_t)
        run.begin_timed()
        model = None
        with run.span("run.bulk"), run.span("ml.train"), base_frames():
            model = run.op(train.train, spark, hist, num_trees=TRAIN_TREES,
                           max_depth=TRAIN_DEPTH, model_version="pb-rf")
        loop_t0 = time.perf_counter()
        for i, day in enumerate(plan["days"]):
            if i >= DAILY_MIN_STEPS and time.perf_counter() - loop_t0 >= run.args.seconds:
                break
            d = dt.date.fromisoformat(day)
            lo = str(d - dt.timedelta(days=plan["lookback"][i]))
            in_window = F.col("date").between(F.lit(lo).cast("date"),
                                              F.lit(day).cast("date"))
            with run.span("run.step"):
                # the new day plus a restated lookback: the restated
                # rows conflict on purpose
                run.commit("sinks.upsert", prices_t,
                           plan["tickers"] * (plan["lookback"][i] + 1), sinks.upsert,
                           spark, prices_t, panel.prices(spark, full).filter(in_window),
                           ["ticker", "date"])
                returned[latest_version(prices_t)] = time.time()
                with run.span("sinks.read_manifest_table"):
                    got = run.op(lambda: sinks.read_manifest_table(
                        spark, prices_t, bounds={"date": (d, d)}).collect())
                if got is not None:
                    run.check(f"landed_{day}", len(got) == plan["tickers"],
                              f"{len(got)} rows")
                panel.explanations(spark, full).filter(in_window) \
                    .createOrReplaceTempView("pb_new_explanations")
                run.commit("sqldml.execute_sql", tables["grok_explanations"], 0,
                           sinks.manifest_sql, spark,
                           "INSERT INTO grok_explanations "
                           "SELECT ticker, date, sentiment, topic, explanation "
                           "FROM pb_new_explanations ON CONFLICT (ticker, date) DO NOTHING")
                with run.span("run.read"), run.span("plans.dashboard_query"):
                    for v in views.DASHBOARD_VIEWS:
                        run.op(lambda v=v: noop(sinks.manifest_sql(spark, f"SELECT * FROM {v}")))
                preds = None
                with run.span("ml.predict_next_day"), base_frames():
                    if model is not None:
                        preds = run.op(lambda: (lambda df: (df.schema, df.collect()))(
                            predict.predict_next_day(spark, hist, model.model, "pb-rf")
                            .drop("created_at")))
                if preds is not None:
                    schema, pred_rows = preds
                    run.check(f"predictions_{day}", len(pred_rows) == plan["tickers"],
                              f"{len(pred_rows)} rows")
                    # a re-scored (ticker, day) replaces the stored
                    # prediction only when it is more confident
                    run.commit("sinks.merge_manifest_table", tables["volatility_predictions"],
                               len(pred_rows), sinks.merge_manifest_table, spark,
                               tables["volatility_predictions"],
                               spark.createDataFrame(pred_rows, schema), ["ticker", "date"],
                               matched_condition="s.confidence > e.confidence")
                    scored += len(pred_rows)
            landed += plan["tickers"]  # new rows; restated ones re-land
            last_day = day
        run.timed_end = time.time()
        stream_metrics(run, watcher, returned, latest_version(prices_t))
    finally:
        watcher.stop()
        query.stop()

    steps = run.tracer.walls("run.step")
    run.e2e["step_s"] = (_median(steps), "s")
    run.e2e["steps_per_s"] = (len(steps) / sum(steps), "1/s")
    run.e2e["read_s"] = (_median(run.tracer.walls("run.read")), "s")
    run.e2e["bulk_s"] = (_median(run.tracer.walls("run.bulk")), "s")
    run.e2e["rows_per_s"] = ((landed + scored) / sum(steps), "rows/s")
    live = sum(sinks.count_manifest_table(t) for t in tables.values())
    run.e2e["bytes_per_row"] = (sum(dir_bytes(t) for t in tables.values()) / live,
                                "B/row")
    run.tail = tail(steps)

    # correctness: the 12 views over the manifest tables equal their
    # DuckDB oracles over the same inputs cut at the last landed day;
    # the feed carried exactly the new days (restated rows are equal)
    import duckdb

    from etl_stocks_with_sentiment_analysis_spark import registry

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{full}/lineitem.parquet' "
                f"WHERE CAST(l_shipdate AS DATE) <= DATE '{last_day}'")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{full}/orders.parquet'")
    oracles = registry.all_oracles()
    for v, key in views.DASHBOARD_VIEWS.items():
        try:
            ok = spark_rows(sinks.manifest_sql(spark, f"SELECT * FROM {v}")) == \
                oracle_rows(con, oracles[key])
        except Exception as e:  # noqa: BLE001 - a broken check is a failed check
            ok = False
            print(f"{v}: {type(e).__name__}: {e}", file=sys.stderr)
        run.check(f"view_{v}", ok)
    cols = ["ticker", "date", "low", "high", "close", "volume"]
    new_days = spark_rows(sinks.read_manifest_table(
        spark, prices_t, bounds={"date": (dt.date.fromisoformat(plan["days"][0]), None)}
    ).select(*cols))
    feed_checks(run, spark.read.parquet(os.path.join(base, "feed")), v0,
                plan["tickers"] * len(steps), new_days, cols)


# ---------------------------------------------------------------------------
# table_commits
# ---------------------------------------------------------------------------

class StreamWatcher:
    """Polls a running streaming query's progress on a thread.

    Records each micro-batch (end version, input rows, start, duration)
    and the time each manifest version first became visible in the
    sink, i.e. was covered by a committed micro-batch."""

    def __init__(self, query):
        self.q = query
        self.batches: dict[int, dict] = {}
        self.visible_at: dict[int, float] = {}
        self.version = -1
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def start(self):
        self._t.start()

    def _loop(self):
        while not self._stop.is_set():
            try:
                p = self.q.lastProgress
            except Exception:  # noqa: BLE001 - query stopping
                p = None
            if p:
                self._record(p, time.time())
            time.sleep(0.05)

    def _record(self, p, now):
        import ast

        bid = p.get("batchId")
        if bid is None or bid in self.batches:
            return
        eo = (p.get("sources") or [{}])[0].get("endOffset")
        try:
            eo = ast.literal_eval(eo) if isinstance(eo, str) else eo
            ver = int(eo["version"])
        except Exception:  # noqa: BLE001 - no offset yet
            return
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        dur = (p.get("durationMs") or {}).get("triggerExecution", 0) / 1000.0
        self.batches[bid] = {"version": ver, "rows": p.get("numInputRows", 0),
                             "start": start, "dur": dur}
        for v in range(self.version + 1, ver + 1):
            self.visible_at[v] = now
        self.version = max(self.version, ver)

    def wait_for(self, version: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self.version >= version:
                return True
            if self.q.exception() is not None:
                raise RuntimeError(str(self.q.exception()))
            time.sleep(0.01)
        return False

    def stop(self):
        self._stop.set()
        self._t.join(timeout=5)


def start_feed(run: Run, target: str, keys: list[str], root: str,
               starting_version: int | None = None):
    """Start a change-feed stream over ``target`` draining into a
    parquet sink behind the writer; returns (query, watcher). Without
    ``starting_version`` the feed first delivers the current snapshot
    as inserts; with it, only the changes of that version onward."""
    from etl_stocks_with_sentiment_analysis_spark.streaming.source import (
        register_manifest_stream_source,
    )

    spark = run.spark
    with run.span("setup.stream"):
        register_manifest_stream_source(spark)
        reader = (spark.readStream.format("manifest_stream").option("path", target)
                  .option("readChangeFeed", "true")
                  .option("keyColumns", ",".join(keys)))
        if starting_version is not None:
            reader = reader.option("startingVersion", str(starting_version))
        stream = reader.load()
        query = (stream.writeStream.format("parquet")
                 .option("path", os.path.join(root, "feed"))
                 .option("checkpointLocation", os.path.join(root, "feed_ck"))
                 .trigger(processingTime="100 milliseconds").start())
    watcher = StreamWatcher(query)
    watcher.start()
    return query, watcher


def stream_metrics(run: Run, watcher: StreamWatcher, returned: dict[int, float],
                   last: int) -> None:
    """Wait for the feed to reach ``last``; record the micro-batches
    as ``streaming.drain`` spans and the visibility metrics."""
    if not watcher.wait_for(last, 60):
        run.fail(f"stream did not reach version {last}")
    # every micro-batch becomes a streaming.drain span; its jobs are
    # attributed by the query id
    in_loop = sorted((b for b in watcher.batches.values() if b["start"] >= run.timed_start),
                     key=lambda b: b["start"])
    for b in in_loop:
        run.tracer.add_span("streaming.drain", b["start"], b["start"] + b["dur"])
    run.tracer.stream_spans[str(watcher.q.id)] = "streaming.drain"
    vis = [watcher.visible_at[v] - t for v, t in returned.items() if v in watcher.visible_at]
    run.layer["streaming.visible_s"] = _median(vis)
    run.layer["streaming.microbatches"] = len(in_loop)
    run.layer["streaming.empty_batch_frac"] = (
        sum(1 for b in in_loop if not b["rows"]) / len(in_loop) if in_loop else 0.0)


def feed_checks(run: Run, feed, v0: int, expected: int, final_rows, cols: list[str]) -> None:
    """The feed delivered exactly ``expected`` change rows after
    version ``v0``, and its inserts less its deletes (as multisets) are
    ``final_rows``: the final table when the feed began with the
    snapshot, the rows changed since ``v0`` when it did not."""
    import duckdb

    delivered = feed.filter(f"_commit_version > {v0}").count()
    run.layer["streaming.delivered_ratio"] = delivered / expected if expected else 1.0
    run.check("change_feed_rows", delivered == expected, f"delivered {delivered} of {expected}")
    fd = feed.select(*cols, "_change_type").toPandas()  # noqa: F841 - read by DuckDB
    sel = ", ".join(cols)
    applied = oracle_rows(duckdb.connect(), f"""
        SELECT {sel} FROM fd WHERE _change_type IN ('insert', 'update_postimage')
        EXCEPT ALL
        SELECT {sel} FROM fd WHERE _change_type IN ('delete', 'update_preimage')""")
    run.check("feed_applies_to_final", applied == final_rows)


def _commit(spark, sinks, target, op):
    """Apply one planned commit through the engine's public surface."""

    kind = op["kind"]
    if kind in ("upsert", "merge_update", "merge_delete"):
        src = spark.createDataFrame(
            [(r[0], r[1], dt.date.fromisoformat(r[2]), r[3], r[4]) for r in op["rows"]],
            "ticker long, bucket int, date date, close_cents long, volume long")
        if kind == "upsert":
            sinks.upsert(spark, target, src, COMMIT_KEYS, partition_col="bucket")
        elif kind == "merge_update":
            sinks.merge_manifest_table(spark, target, src, COMMIT_KEYS,
                                       matched_condition="s.volume > e.volume",
                                       partition_col="bucket")
        else:
            sinks.merge_manifest_table(spark, target, src, COMMIT_KEYS,
                                       when_matched="delete",
                                       matched_condition="s.close_cents <= e.close_cents",
                                       when_not_matched=None, partition_col="bucket")
        return
    if kind == "sql_upsert":
        values = ", ".join(f"({r[0]}, {r[1]}, DATE '{r[2]}', {r[3]}, {r[4]})"
                           for r in op["rows"])
        sinks.manifest_sql(
            spark,
            "INSERT INTO pb.prices (ticker, bucket, date, close_cents, volume) "
            f"VALUES {values} ON CONFLICT (ticker, bucket, date) DO UPDATE SET "
            "close_cents = EXCLUDED.close_cents, volume = EXCLUDED.volume")
        return
    where = (f"ticker IN ({', '.join(str(t) for t in op['tickers'])}) AND date BETWEEN "
             f"DATE '{op['date_lo']}' AND DATE '{op['date_hi']}'")
    if kind == "sql_update":
        sinks.manifest_sql(spark, f"UPDATE pb.prices SET volume = volume + {op['delta']} "
                                  f"WHERE {where}")
    else:
        sinks.manifest_sql(spark, f"DELETE FROM pb.prices WHERE {where}")


_COMMIT_SPAN = {"upsert": "sinks.upsert", "merge_update": "sinks.merge_manifest_table",
                "merge_delete": "sinks.merge_manifest_table", "sql_upsert": "sqldml.execute_sql",
                "sql_update": "sqldml.execute_sql", "sql_delete": "sqldml.execute_sql"}


def replay(con, ops, base_path: str) -> list[int]:
    """Replay the commit plan in DuckDB; returns each op's change-row
    count (rows removed plus rows added, as a multiset diff)."""
    con.execute(f"CREATE TABLE t AS SELECT * FROM '{base_path}'")
    diffs = []
    for op in ops:
        tk = ", ".join(str(t) for t in op["tickers"]) or "NULL"
        con.execute(f"CREATE OR REPLACE TEMP TABLE before AS SELECT * FROM t "
                    f"WHERE ticker IN ({tk})")
        kind = op["kind"]
        if kind in ("upsert", "merge_update", "merge_delete", "sql_upsert"):
            con.execute("CREATE OR REPLACE TEMP TABLE s (ticker BIGINT, bucket INTEGER, "
                        "date DATE, close_cents BIGINT, volume BIGINT)")
            if op["rows"]:
                con.executemany("INSERT INTO s VALUES (?, ?, CAST(? AS DATE), ?, ?)", op["rows"])
            match = "t.ticker = s.ticker AND t.bucket = s.bucket AND t.date = s.date"
            if kind in ("upsert", "sql_upsert"):
                con.execute(f"DELETE FROM t USING s WHERE {match}")
                con.execute("INSERT INTO t SELECT * FROM s")
            elif kind == "merge_update":
                con.execute("CREATE OR REPLACE TEMP TABLE hit AS SELECT s.* FROM s JOIN t "
                            f"ON {match} WHERE s.volume > t.volume")
                con.execute("CREATE OR REPLACE TEMP TABLE new AS SELECT s.* FROM s "
                            f"WHERE NOT EXISTS (SELECT 1 FROM t WHERE {match})")
                con.execute("DELETE FROM t USING hit s WHERE " + match)
                con.execute("INSERT INTO t SELECT * FROM hit UNION ALL SELECT * FROM new")
            else:
                con.execute(f"DELETE FROM t USING s WHERE {match} "
                            "AND s.close_cents <= t.close_cents")
        else:
            where = (f"ticker IN ({tk}) AND date BETWEEN DATE '{op['date_lo']}' "
                     f"AND DATE '{op['date_hi']}'")
            if kind == "sql_update":
                con.execute(f"UPDATE t SET volume = volume + {op['delta']} WHERE {where}")
            else:
                con.execute(f"DELETE FROM t WHERE {where}")
        n = con.execute(
            f"SELECT (SELECT COUNT(*) FROM (SELECT * FROM before EXCEPT ALL "
            f"SELECT * FROM t WHERE ticker IN ({tk}))) + (SELECT COUNT(*) FROM "
            f"(SELECT * FROM t WHERE ticker IN ({tk}) EXCEPT ALL SELECT * FROM before))"
        ).fetchone()[0]
        diffs.append(int(n))
    return diffs


def table_commits(run: Run) -> None:
    """A seeded mix of small commits, each followed by a bounded read,
    with a change-feed stream draining behind the writer."""
    from etl_stocks_with_sentiment_analysis_spark.operators import sinks, sqldml

    spark = run.spark
    with open(os.path.join(run.inputs, "commits", "plan.json")) as f:
        plan = json.load(f)
    ops = plan["ops"]
    base_path = os.path.join(run.inputs, "commits", "base.parquet")
    root = os.path.join(run.work, "commits")
    target = os.path.join(root, "prices")
    with run.span("setup.table"):
        sinks.upsert(spark, target, spark.read.parquet(base_path), COMMIT_KEYS,
                     partition_col="bucket")
        sqldml.bind_sql_table(spark, "pb.prices", target)
    # the stream starts in the background while the first commit and
    # read warm up the commit and read paths
    query, watcher = start_feed(run, target, COMMIT_KEYS, root)
    try:
        v0 = latest_version(target)
        with run.span("setup.warmup"):
            run.op(_commit, spark, sinks, target, ops[0])
            run.op(lambda: sinks.read_manifest_table(
                spark, target, bounds={"ticker": (1, 1)}).collect())
            if not watcher.wait_for(latest_version(target), 120):
                raise TimeoutError("stream did not catch up with the set-up commits")
        _commit_loop(run, spark, sinks, target, ops, 1, watcher)  # op 0 warmed up
    finally:
        watcher.stop()
        query.stop()

    import duckdb

    con = duckdb.connect()
    diffs = replay(con, ops[:run.n_ops], base_path)
    cols = ["ticker", "bucket", "date", "close_cents", "volume"]
    got = spark_rows(sinks.read_manifest_table(spark, target).select(*cols))
    run.check("final_table_vs_replay", got == oracle_rows(con, f"SELECT {', '.join(cols)} FROM t"),
              f"{len(got)} rows")
    feed_checks(run, spark.read.parquet(os.path.join(root, "feed")), v0, sum(diffs), got, cols)


def _commit_loop(run, spark, sinks, target, ops, start, watcher):
    run.begin_timed()
    returned: dict[int, float] = {}
    i = start
    loop_t0 = time.perf_counter()
    while i < len(ops) and (i - start < MIN_STEPS
                            or time.perf_counter() - loop_t0 < run.args.seconds):
        op = ops[i]
        with run.span("run.step"):
            run.commit(_COMMIT_SPAN[op["kind"]], target, len(op.get("rows", ())),
                       _commit, spark, sinks, target, op)
        returned[latest_version(target)] = time.time()
        tk = op["tickers"][0]
        with run.span("run.read"), run.span("sinks.read_manifest_table"):
            run.op(lambda: sinks.read_manifest_table(
                spark, target, bounds={"ticker": (tk, tk)}).collect())
        i += 1
    loop_wall = time.perf_counter() - loop_t0
    with run.span("run.bulk"), run.span("sinks.read_manifest_table"):
        run.op(lambda: noop(sinks.read_manifest_table(spark, target)))
    run.timed_end = time.time()
    run.n_ops = i
    stream_metrics(run, watcher, returned, latest_version(target))
    steps = run.tracer.walls("run.step")
    n = len(steps)
    run.e2e["step_s"] = (_median(steps), "s")
    run.e2e["steps_per_s"] = (n / loop_wall, "1/s")
    run.e2e["read_s"] = (_median(run.tracer.walls("run.read")), "s")
    run.e2e["bulk_s"] = (_median(run.tracer.walls("run.bulk")), "s")
    run.e2e["rows_per_s"] = (run.commit_rows / sum(steps), "rows/s")
    run.e2e["bytes_per_row"] = (dir_bytes(target) / sinks.count_manifest_table(target),
                                "B/row")
    run.tail = tail(steps)


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

_SCALED = "transform(embedding, e -> round(CAST(e AS DOUBLE) * 10000, 0))"
_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), "
        "(acc, x) -> acc + x)")


def _scaled(df, id_col: str, out_id: str, v: str, n: str):
    from pyspark.sql import functions as F

    return df.select(F.col(id_col).alias(out_id), F.expr(_SCALED).alias(v),
                     F.expr(_DOT.format(a=_SCALED, b=_SCALED)).alias(n))


def exact_topk(corpus, queries, k: int) -> dict[int, set]:
    """Brute-force cosine top-k, with the engine's integer scaling."""
    import numpy as np

    ids = np.array([r[0] for r in corpus])
    m = np.rint(np.array([r[1] for r in corpus], dtype=np.float64) * 10000)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    out = {}
    for qid, emb in queries:
        q = np.rint(np.asarray(emb, dtype=np.float64) * 10000)
        sims = m @ (q / np.linalg.norm(q))
        top = np.lexsort((ids, -sims))[:k]
        out[qid] = set(int(x) for x in ids[top])
    return out


def corpus_dedup(run: Run) -> None:
    """Full dedup pass, index builds, then incremental doc batches
    (LSH probe + append) alternating with ANN query batches."""
    from pyspark.sql import functions as F

    from etl_stocks_with_sentiment_analysis_spark.llmdata import dedup, similarity, text

    spark = run.spark
    corpus = os.path.join(run.inputs, "corpus", "corpus")
    with open(os.path.join(run.inputs, "corpus", "plan.json")) as f:
        plan = json.load(f)
    incoming = spark.read.parquet(os.path.join(run.inputs, "corpus", "incoming.parquet"))
    queries = spark.read.parquet(os.path.join(run.inputs, "corpus", "queries.parquet"))
    ann_dir = os.path.join(run.work, "corpus", "annidx")
    emb = spark.read.parquet(os.path.join(corpus, "embeddings.parquet"))

    run.begin_timed()
    pairs = None
    with run.span("run.bulk"):
        with run.span("run.dedup_pass"):
            with run.span("llmdata.text_quality"):
                run.op(lambda: noop(text.text_quality_score(spark, corpus)))
            with run.span("llmdata.minhash_dedup"):
                pairs = run.op(lambda: dedup.dedup_minhash_lsh(spark, corpus).toPandas())
            with run.span("llmdata.embedding_dedup"):
                run.op(lambda: noop(dedup.dedup_embedding_cosine(spark, corpus)))
        with run.span("run.index_build"):
            with run.span("llmdata.lsh_build"):
                # the engine's only LSH index builder that returns the
                # index path; mutable=True hands back a private copy to
                # append to
                lsh_dir = run.op(dedup._lsh_index_dir, spark, corpus,
                                 prefix="pbench_lsh_", mutable=True)
            with run.span("llmdata.ann_build"):
                run.op(similarity.build_ann_index, spark,
                       _scaled(emb, "vec_id", "vec_id", "v", "nrm"), ann_dir)
    results = []

    def incoming_batch(b: int) -> None:
        batch = incoming.filter(F.col("batch") == b).select("doc_id", "text")
        with run.span("llmdata.lsh_probe"):
            dec = run.op(lambda: dedup.probe_lsh_index(spark, lsh_dir, batch).collect())
        if dec is None:
            return
        kept = [r["new_doc_id"] for r in dec if r["keep"]]
        run.check(f"decisions_batch{b}", len(dec) == batch.count(), f"{len(dec)} decisions")
        with run.span("llmdata.lsh_append"):
            run.op(dedup.append_lsh_index, spark, lsh_dir,
                   batch.filter(F.col("doc_id").isin(kept)))

    def query_batch(qb: int) -> None:
        q = _scaled(queries.filter(F.col("batch") == qb), "q_id", "q_id", "qv", "qn")
        with run.span("llmdata.ann_probe"):
            got = run.op(lambda: similarity.probe_ann_index(
                spark, ann_dir, q, nprobe=2, k=ANN_K).collect())
        if got is not None:
            results.extend(got)

    # the first probe of each kind is the cold one (up to 1.5x a warm
    # one, more when the host is busy), so it is not a sample
    with run.span("run.warmup"):
        incoming_batch(0)
        query_batch(0)
    b = 1
    loop_t0 = time.perf_counter()
    while (b < plan["batches"] and READS_PER_STEP * b < plan["query_batches"]
           and (b <= MIN_STEPS
                or time.perf_counter() - loop_t0 < run.args.seconds)):
        with run.span("run.step"):
            incoming_batch(b)
        for qb in range(READS_PER_STEP * b - 1, READS_PER_STEP * b + 1):
            with run.span("run.read"):
                query_batch(qb)
        b += 1
    loop_wall = time.perf_counter() - loop_t0
    run.timed_end = time.time()

    steps = run.tracer.walls("run.step")
    run.e2e["step_s"] = (_median(steps), "s")
    run.e2e["steps_per_s"] = (len(steps) / loop_wall, "1/s")
    run.e2e["read_s"] = (_median(run.tracer.walls("run.read")), "s")
    run.e2e["bulk_s"] = (_median(run.tracer.walls("run.bulk")), "s")
    run.e2e["rows_per_s"] = (plan["docs"] / _median(run.tracer.walls("run.dedup_pass")),
                             "rows/s")
    n_indexed = spark.read.parquet(lsh_dir).select("doc_id").distinct().count() + plan["vecs"]
    run.e2e["bytes_per_row"] = ((dir_bytes(lsh_dir) + dir_bytes(ann_dir)) / n_indexed,
                                "B/row")
    run.tail = tail(steps)

    # correctness: MinHash pairs equal the oracle; ANN recall holds
    import duckdb

    from etl_stocks_with_sentiment_analysis_spark import registry

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{corpus}/documents.parquet'")
    if pairs is not None:
        run.check("minhash_vs_oracle", rows(pairs) ==
                  oracle_rows(con, registry.all_oracles()["dedup_minhash_lsh"]),
                  f"{len(pairs)} pairs")
    qids = sorted({r["q_id"] for r in results})
    qrows = queries.filter(F.col("q_id").isin(qids)).select("q_id", "embedding").collect()
    exact = exact_topk(emb.select("vec_id", "embedding").collect(),
                       [(r[0], r[1]) for r in qrows], ANN_K)
    found: dict[int, set] = {}
    for r in results:
        found.setdefault(r["q_id"], set()).add(r["vec_id"])
    hits = sum(len(found.get(q, set()) & exact[q]) for q in exact)
    recall = hits / (ANN_K * len(exact)) if exact else 0.0
    run.layer["llmdata.ann_recall_at_k"] = recall
    run.check("ann_recall", recall >= ANN_RECALL_FLOOR, f"recall@{ANN_K}={recall:.3f}")


WORKLOADS = {"daily_pipeline": daily_pipeline, "table_commits": table_commits,
             "corpus_dedup": corpus_dedup}


# ---------------------------------------------------------------------------
# per-layer metrics from the trace
# ---------------------------------------------------------------------------

def layer_metrics(run: Run, log_path: str | None, cores: int) -> dict[str, float]:
    tr = run.tracer
    out: dict[str, float] = {}
    jobs = []
    if log_path:
        with open(log_path) as f:
            jobs = parse_event_log(f)
    att = attribute(jobs, tr)
    by_name: dict[str, dict] = {}
    for s in tr.spans:
        if s.name not in SPANS:
            continue
        agg = by_name.setdefault(s.name, {"calls": 0, "self": 0.0, "jobs": 0, "cpu": 0.0,
                                          "shuffle": 0, "spill": 0, "input": 0,
                                          "driver": 0.0})
        js = att.by_span.get(s.id, [])
        agg["calls"] += 1
        agg["self"] += s.wall if s.name == "streaming.drain" else self_time(tr, s.id)
        agg["jobs"] += len(js)
        agg["cpu"] += sum(j.cpu_s for j in js)
        agg["shuffle"] += sum(j.shuffle_write for j in js)
        agg["spill"] += sum(j.spill for j in js)
        agg["input"] += sum(j.input_bytes for j in js)
        agg["driver"] += s.wall - union_length([(j.start, j.end) for j in js], s.start, s.end)
    for name in SPANS:
        agg = by_name.get(name)
        c = agg["calls"] if agg else 0
        per = (lambda k: agg[k] / c) if c else (lambda k: 0.0)
        out[f"{name}.wall_s"] = per("self")
        out[f"{name}.jobs"] = per("jobs")
        out[f"{name}.task_cpu_s"] = per("cpu")
        out[f"{name}.shuffle_write_bytes"] = per("shuffle")
        out[f"{name}.spill_bytes"] = per("spill")
        if name in INPUT_SPANS:
            out[f"{name}.input_bytes"] = per("input")
    for layer in LAYERS:
        aggs = [a for n, a in by_name.items() if n.startswith(layer + ".")]
        wall = sum(a["self"] for a in aggs)
        out[f"{layer}.cpu_util"] = sum(a["cpu"] for a in aggs) / (wall * cores) if wall else 0.0
    commits = [by_name[n] for n in COMMIT_SPANS if n in by_name]
    n_commits = sum(a["calls"] for a in commits)
    out["sinks.jobs_per_commit"] = (sum(a["jobs"] for a in commits) / n_commits
                                    if n_commits else 0.0)
    sq = by_name.get("sqldml.execute_sql")
    out["sqldml.driver_self_s"] = sq["driver"] / sq["calls"] if sq else 0.0
    out["trace.untagged_job_frac"] = att.untagged / att.total if att.total else 0.0
    top = [(s.start, s.end) for s in tr.spans
           if s.parent is None and s.name != "streaming.drain" and s.start >= run.timed_start]
    timed = run.timed_end - run.timed_start
    out["trace.top_span_coverage"] = union_length(top, run.timed_start, run.timed_end) / timed
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--launch", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    args = ap.parse_args()
    run = Run(args)
    os.makedirs(args.work, exist_ok=True)
    log_dir = os.path.join(args.work, "eventlog")
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    from etl_stocks_with_sentiment_analysis_spark.session import get_spark

    with run.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    run.tracer.sc = spark.sparkContext
    run.tracer.tag_jobs = bool(args.trace)
    result = {"workload": args.workload, "seed": args.seed}
    try:
        try:
            WORKLOADS[args.workload](run)
        except Exception as e:  # noqa: BLE001 - reported as a failed run
            traceback.print_exc(file=sys.stderr)
            run.fail(f"{args.workload}: {type(e).__name__}: {e}")
        result["setup_s"] = (run.timed_start - args.launch) if run.timed_start else 0.0
    finally:
        spark.stop()
    if run.timed_start and run.timed_end:
        run.e2e["setup_s"] = (result["setup_s"], "s")
        log = None
        if args.trace:
            logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
            log = logs[0] if logs else None
        try:
            run.layer.update(layer_metrics(run, log, args.cores))
        except Exception as e:  # noqa: BLE001
            run.fail(f"trace: {type(e).__name__}: {e}")
        run.layer["run.step_tail_s"], run.layer["run.step_tail_pct"] = run.tail
        from etl_stocks_with_sentiment_analysis_spark.operators import sinks

        run.layer["sinks.cas_publishes"] = sinks.CAS_STATS["publishes"] - run.cas0["publishes"]
        run.layer["sinks.cas_conflicts"] = sinks.CAS_STATS["conflicts"] - run.cas0["conflicts"]
        n = run.commits
        run.layer["sinks.files_added_per_commit"] = run.files_added / n if n else 0.0
        run.layer["sinks.bytes_added_per_row"] = (run.bytes_added / run.commit_rows
                                                  if run.commit_rows else 0.0)
        # metrics of a layer the workload bypasses read 0
        for name in BYPASSABLE:
            run.layer.setdefault(name, 0.0)
    run.tracer.dump(os.path.join(args.work, "spans.jsonl"))
    result.update({
        "attempted": max(1, run.attempted), "failed": run.failed, "errors": run.errors[:20],
        "e2e": {k: {"value": v, "unit": u} for k, (v, u) in run.e2e.items()},
        "layer": run.layer, "steps": len(run.tracer.walls("run.step")),
    })
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
