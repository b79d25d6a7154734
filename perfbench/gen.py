"""Seeded input generator for the benchmark.

Every input a workload reads is a pure function of ``(scale, seed)``:
the parquet tables the engine scans and the JSON operation plans the
harness replays. Nothing here imports Spark or the engine, so inputs
can be generated, cached and checked without a JVM.

Layout of one generated input directory::

    daily/history/{lineitem,orders}.parquet   panel source up to the cutoff
    daily/full/{lineitem,orders}.parquet      every day, batches included
    daily/plan.json                           cutoff, batch days, lookbacks
    commits/base.parquet                      the table's initial rows
    commits/plan.json                         the seeded commit mix
    corpus/corpus/{documents,embeddings}.parquet
    corpus/incoming.parquet                   incoming doc batches
    corpus/queries.parquet                    ANN query batches
    corpus/plan.json

The price panel follows the engine's TPC-H-ish mapping (ticker =
``l_suppkey``, date = ``l_shipdate``; ``plans/panel.py``), so the
engine derives prices and explanations exactly as it does from the
repository's TPC-H-ish test tables.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per scale. "bench" is what the timed runs use; "tiny" keeps the
# smoke test fast. Chosen so one run (JVM start, set-up, the timed
# loop, the checks) ends well inside the per-run time budget on 4 cores.
SCALES = {
    "bench": {
        "daily": {"tickers": 30, "days": 260, "batches": 12, "lookback": 3},
        "commits": {"tickers": 200, "days": 125, "buckets": 16, "ops": 300,
                    "max_rows": 40},
        "corpus": {"base_docs": 1000, "replicas": 4, "base_vecs": 500,
                   "batches": 60, "batch_docs": 40, "query_batches": 60,
                   "batch_queries": 16},
    },
    "tiny": {
        "daily": {"tickers": 6, "days": 60, "batches": 6, "lookback": 2},
        "commits": {"tickers": 24, "days": 20, "buckets": 4, "ops": 60,
                    "max_rows": 6},
        "corpus": {"base_docs": 120, "replicas": 2, "base_vecs": 200,
                   "batches": 8, "batch_docs": 6, "query_batches": 8,
                   "batch_queries": 8},
    },
}

EPOCH = dt.date(2021, 1, 4)
COMMIT_KINDS = ("upsert", "merge_update", "merge_delete",
                "sql_upsert", "sql_update", "sql_delete")
EMB_DIMS = 64  # the engine's embeddings.embedding is list<float>[64]
_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "for")
_STATUS = np.array(["O", "F", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # no row-group statistics timestamps or writer-dependent metadata:
    # the same seed must give the same bytes
    pq.write_table(table, path, compression="snappy", store_schema=False)


def _write_json(obj, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, separators=(",", ":"))


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(EPOCH.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), type=pa.timestamp("us"))


# ---------------------------------------------------------------------------
# daily_pipeline
# ---------------------------------------------------------------------------

def gen_daily(rng: np.random.Generator, p: dict, out: str) -> None:
    """Lineitem/orders whose derived panel is ``tickers x days`` rows.

    Each (ticker, day) gets 1-3 lineitems around a per-ticker random
    walk, so pct_change, rolling windows and the volatility classes
    see realistic moves. The history holds the days up to a seeded
    cutoff; the batches land the following days in order."""
    t, d = p["tickers"], p["days"]
    walk = 50.0 * np.exp(np.cumsum(rng.normal(0, 0.03, size=(t, d)), axis=1))
    n_lines = rng.integers(1, 4, size=(t, d))
    tick = np.repeat(np.repeat(np.arange(1, t + 1), d), n_lines.ravel())
    day = np.repeat(np.tile(np.arange(d), t), n_lines.ravel())
    base = np.repeat(walk.ravel(), n_lines.ravel())
    n = tick.size
    price = np.round(base * rng.uniform(0.9, 1.1, size=n), 2)
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    orderkey = np.arange(1, n + 1, dtype=np.int64)
    lineitem = pa.table({
        "l_orderkey": orderkey,
        "l_suppkey": tick.astype(np.int64),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_shipdate": _ts(day),
    })
    orders = pa.table({
        "o_orderkey": orderkey,
        "o_orderstatus": pa.array(_STATUS[rng.integers(0, 3, size=n)]),
        "o_orderpriority": pa.array(_PRIORITY[rng.integers(0, 5, size=n)]),
    })
    cutoff = d - p["batches"] - int(rng.integers(0, 8))
    hist = day <= cutoff
    _write(lineitem.filter(pa.array(hist)), f"{out}/history/lineitem.parquet")
    _write(orders.filter(pa.array(hist)), f"{out}/history/orders.parquet")
    _write(lineitem, f"{out}/full/lineitem.parquet")
    _write(orders, f"{out}/full/orders.parquet")
    days = [str(EPOCH + dt.timedelta(days=int(x)))
            for x in range(cutoff + 1, cutoff + 1 + p["batches"])]
    lookback = [int(x) for x in rng.integers(1, p["lookback"] + 1, size=len(days))]
    _write_json({"cutoff": str(EPOCH + dt.timedelta(days=int(cutoff))),
                 "days": days, "lookback": lookback, "tickers": t}, f"{out}/plan.json")


# ---------------------------------------------------------------------------
# table_commits
# ---------------------------------------------------------------------------

def _zipf_tickers(rng: np.random.Generator, n_tickers: int, k: int) -> list[int]:
    """k distinct tickers, Zipf-skewed toward a seeded hot set."""
    perm = rng.permutation(n_tickers) + 1
    out: list[int] = []
    while len(out) < k:
        r = int(rng.zipf(1.3)) - 1
        if r < n_tickers and int(perm[r]) not in out:
            out.append(int(perm[r]))
    return out


def gen_commits(rng: np.random.Generator, p: dict, out: str) -> None:
    """The table's initial rows and a seeded mix of small commits.

    Money is integer cents and volumes are integers, so the DuckDB
    replay of the same operation plan must equal the final table
    exactly. Keys are Zipf-skewed: a few hot tickers take most
    commits, like a market where a handful of symbols trade most."""
    t, d, nb = p["tickers"], p["days"], p["buckets"]
    tick = np.repeat(np.arange(1, t + 1), d)
    day = np.tile(np.arange(d), t)
    base = pa.table({
        "ticker": tick.astype(np.int64),
        "bucket": (tick % nb).astype(np.int32),
        "date": pa.array(np.datetime64(EPOCH.isoformat(), "D")
                         + day.astype("timedelta64[D]"), type=pa.date32()),
        "close_cents": rng.integers(100, 100000, size=tick.size).astype(np.int64),
        "volume": rng.integers(0, 10000, size=tick.size).astype(np.int64),
    })
    _write(base, f"{out}/base.parquet")
    # kinds come in blocks holding each kind once, in a seeded order, so
    # any run of whole blocks has the same mix whatever the seed
    n_blocks = -(-p["ops"] // len(COMMIT_KINDS))
    kinds = np.concatenate([rng.permutation(len(COMMIT_KINDS)) for _ in range(n_blocks)])
    ops = []
    for i, k in enumerate(kinds):
        kind = COMMIT_KINDS[int(k)]
        n_rows = int(rng.integers(1, p["max_rows"] + 1))
        tickers = _zipf_tickers(rng, t, min(3, n_rows))
        op = {"i": i, "kind": kind, "tickers": tickers}
        if kind in ("upsert", "merge_update", "merge_delete", "sql_upsert"):
            rows = []
            seen = set()
            for _ in range(n_rows):
                tk = tickers[int(rng.integers(0, len(tickers)))]
                # ~1 in 5 rows is a new trading day past the base range
                dd = int(rng.integers(0, d + d // 4))
                if (tk, dd) in seen:
                    continue
                seen.add((tk, dd))
                rows.append([tk, tk % nb, str(EPOCH + dt.timedelta(days=dd)),
                             int(rng.integers(100, 100000)),
                             int(rng.integers(0, 10000))])
            op["rows"] = rows
        else:
            lo = int(rng.integers(0, d))
            op["date_lo"] = str(EPOCH + dt.timedelta(days=lo))
            op["date_hi"] = str(EPOCH + dt.timedelta(days=lo + int(rng.integers(0, 5))))
            op["delta"] = int(rng.integers(1, 100))
        ops.append(op)
    _write_json({"buckets": nb, "ops": ops}, f"{out}/plan.json")


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("bcdfghjklmnprstvwz"))
    vowels = np.array(list("aeiou"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        w = "".join(letters[rng.integers(0, len(letters))] + vowels[rng.integers(0, 5)]
                    for _ in range(k))
        words.add(w)
    return np.array(sorted(words))


def _doc(rng: np.random.Generator, vocab: np.ndarray, zipf: np.ndarray) -> list[str]:
    n = int(rng.integers(12, 60))
    words = list(vocab[rng.choice(len(vocab), size=n, p=zipf)])
    for j in rng.integers(0, n, size=max(1, n // 5)):
        words[int(j)] = _STOPWORDS[int(rng.integers(0, len(_STOPWORDS)))]
    return words


def _edit(rng: np.random.Generator, words: list[str], vocab: np.ndarray) -> list[str]:
    out = list(words)
    for j in rng.integers(0, len(out), size=int(rng.integers(1, 3))):
        out[int(j)] = str(vocab[rng.integers(0, len(vocab))])
    return out


def _translate(words: list[str], table: dict) -> list[str]:
    return [w if w in _STOPWORDS else w.translate(table) for w in words]


def gen_corpus(rng: np.random.Generator, p: dict, out: str) -> None:
    """A replicated document and embedding corpus plus incoming batches
    and ANN query batches.

    Replica r > 0 maps every word's vowels through a seeded
    permutation, so replicas share no 3-shingles and LSH buckets stay
    sparse; vectors get a seeded per-(replica, dimension) offset so
    replicas fall in different sign-LSH buckets. Within a replica,
    about one doc in ten is an edited copy and one in thirty a verbatim
    copy, so both dedup passes find pairs."""
    vocab = _vocab(rng, 1500)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    zipf = (1.0 / ranks) / np.sum(1.0 / ranks)
    base_docs: list[list[str]] = []
    for _ in range(p["base_docs"]):
        u = rng.random()
        if base_docs and u < 0.10:
            base_docs.append(_edit(rng, base_docs[int(rng.integers(0, len(base_docs)))], vocab))
        elif base_docs and u < 0.13:
            base_docs.append(list(base_docs[int(rng.integers(0, len(base_docs)))]))
        else:
            base_docs.append(_doc(rng, vocab, zipf))
    tables = [str.maketrans("aeiou", "aeiou")]
    for _ in range(1, p["replicas"]):
        perm = "".join(rng.permutation(list("aeiou")))
        tables.append(str.maketrans("aeiou", perm))
    texts = []
    for r in range(p["replicas"]):
        for words in base_docs:
            # identity for replica 0; later replicas also append a
            # replica tag so a permutation that maps a word onto itself
            # still yields a distinct token
            w = _translate(words, tables[r])
            texts.append(" ".join(w if r == 0 else [x + ("" if x in _STOPWORDS else f"q{r}")
                                                   for x in w]))
    n_docs = len(texts)
    langs = np.array(["en", "de", "es", "zh"])
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, 4, size=n_docs)]),
        "source": pa.array([f"src{i % 7}" for i in range(n_docs)]),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    _write(docs, f"{out}/corpus/documents.parquet")

    centers = rng.normal(0, 1, size=(24, EMB_DIMS))
    base_v = []
    for i in range(p["base_vecs"]):
        if base_v and rng.random() < 0.05:
            base_v.append(base_v[int(rng.integers(0, len(base_v)))]
                          + rng.normal(0, 0.01, size=EMB_DIMS))
        else:
            base_v.append(centers[int(rng.integers(0, len(centers)))]
                          + rng.normal(0, 0.35, size=EMB_DIMS))
    base_v = np.array(base_v)
    vecs = [base_v] + [base_v + rng.normal(0, 1.0, size=EMB_DIMS)
                       for _ in range(1, p["replicas"])]
    vecs = np.concatenate(vecs).astype(np.float32)
    n_vecs = vecs.shape[0]
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": (np.arange(n_vecs) % 24).astype(np.int32),
    })
    _write(emb, f"{out}/corpus/embeddings.parquet")

    # incoming batches: half edited copies of corpus docs (probe hits),
    # half fresh docs; ids continue past the corpus
    inc_ids, inc_batch, inc_text = [], [], []
    nid = n_docs
    for b in range(p["batches"]):
        for _ in range(p["batch_docs"]):
            if rng.random() < 0.5:
                words = _edit(rng, texts[int(rng.integers(0, n_docs))].split(" "), vocab)
            else:
                words = _doc(rng, vocab, zipf)
            inc_ids.append(nid)
            inc_batch.append(b)
            inc_text.append(" ".join(words))
            nid += 1
    _write(pa.table({
        "doc_id": np.array(inc_ids, dtype=np.int64),
        "batch": np.array(inc_batch, dtype=np.int32),
        "text": pa.array(inc_text),
    }), f"{out}/incoming.parquet")

    nq = p["query_batches"] * p["batch_queries"]
    src = rng.integers(0, n_vecs, size=nq)
    qv = (vecs[src] + rng.normal(0, 0.05, size=(nq, EMB_DIMS))).astype(np.float32)
    _write(pa.table({
        "q_id": np.arange(nq, dtype=np.int64),
        "batch": (np.arange(nq) // p["batch_queries"]).astype(np.int32),
        "embedding": pa.array(list(qv), type=pa.list_(pa.float32())),
    }), f"{out}/queries.parquet")
    _write_json({"docs": n_docs, "vecs": n_vecs, "batches": p["batches"],
                 "query_batches": p["query_batches"]}, f"{out}/plan.json")


GENERATORS = {"daily": gen_daily, "commits": gen_commits, "corpus": gen_corpus}


def generate(root: str, scale: str, seed: int) -> str:
    """Generate (once) and return the input directory for (scale, seed).

    Each part draws from its own stream spawned from the seed, so the
    parts are independent of each other's sizes. The directory name
    carries a digest of this file, so a changed generator never reads a
    stale cache. A ``done`` marker is written last; a half-written
    directory from a killed run is regenerated."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    out = os.path.join(root, f"{scale}-s{seed}-{version}")
    if os.path.exists(os.path.join(out, "done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    streams = np.random.SeedSequence(seed).spawn(len(GENERATORS))
    for (name, fn), ss in zip(sorted(GENERATORS.items()), streams):
        fn(np.random.default_rng(ss), SCALES[scale][name], os.path.join(out, name))
    with open(os.path.join(out, "done"), "w") as f:
        f.write("ok\n")
    return out
