"""Seeded input generator for the graft benchmark.

Every input is derived from the seed alone. The shapes follow the
synthetic `events` and `documents` tables the repo's tests and bench use
(sf0.1: 100K events over 100 instances and 1,500 users; 5K docs of 10-100
words over a 30-word vocabulary, 5% planted near-dups), and the
pretraining corpus copies GenSf's 10x replication model (doc ids shifted
by a stride, marker words spliced after every 3rd word of copies k > 0, so
copies are not cross-copy near-dups). The model is copied here, not
called, so a later edit to GenSf cannot change the inputs.

Layout: every table is ONE parquet file holding ONE row group (snappy),
like the test data. Spark therefore plans one scan split per table, which
is what graft's Spread operator keys its repartition decision on.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data table query spark stream batch window merge column "
         "vector value small join filter big group hash customer sort order "
         "slow line part fast row agg key scan").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
BENCH_DOCS = 20  # q96's held-out benchmark: doc_id < 20
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
PII = ["mail jo.doe{0}@example.org now", "call 555-{0:03d}-0199 today",
       "host 10.0.{0}.7 down"]


def _write(path, table):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


# ---------------------------------------------------------------- events

def events(rng, n, instances):
    """sf0.1's event model scaled to n rows: ids in order, timestamps
    sorted over 30 days, users ~ n/66.7, uniform types, instance key in
    props."""
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n)) + T0_US
    users = max(15, int(n * 0.015))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k
                           for k in rng.integers(0, instances, n)]),
    })


# ------------------------------------------------------------- documents

def _words(rng, k):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))


def _fresh(rng):
    return _words(rng, int(rng.integers(10, 101)))


def _contaminate(rng, text, bench):
    """Splice a 12-word run of a benchmark doc into `text`."""
    src = bench[int(rng.integers(0, len(bench)))].split(" ")
    s = int(rng.integers(0, max(1, len(src) - 12)))
    ws = text.split(" ")
    cut = int(rng.integers(0, len(ws) + 1))
    return " ".join(ws[:cut] + src[s:s + 12] + ws[cut:])


def corpus_texts(rng, n, bench=None):
    """n texts. Planted docs sit at fixed positions in every block of 100,
    so every seed gets the same shape and only the words differ: 5%
    near-dups of a fresh doc ten positions earlier (the test data's
    trailing ` dup`), 0.2% exact dups, 2% benchmark-contaminated, 1% PII,
    1% degenerate repetition, the rest fresh. `bench` defaults to the
    corpus's own first BENCH_DOCS docs (q96's convention)."""
    texts = []
    for i in range(n):
        slot = i % 100
        if i < BENCH_DOCS:
            t = _fresh(rng)
        elif 10 <= slot < 15:
            t = texts[i - 10] + " dup"
        elif slot == 20 and i % 500 == 20:
            t = texts[i - 5]
        elif slot in (30, 31):
            t = _contaminate(rng, _fresh(rng),
                             bench if bench is not None else texts[:BENCH_DOCS])
        elif slot == 40:
            t = _fresh(rng) + " " + PII[(i // 100) % 3].format(i % 250)
        elif slot == 50:
            t = " ".join([_words(rng, 3)] * int(rng.integers(8, 30)))
        else:
            t = _fresh(rng)
        texts.append(t)
    return texts


def documents(rng, n, id0=0, bench=None):
    texts = corpus_texts(rng, n, bench)
    ids = np.arange(id0, id0 + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def replicate(docs, copies):
    """GenSf's documents model: copy k shifts doc_id by k*stride and, for
    k > 0, splices the marker word `zq<k><md5(word+i)[:4]>` after every
    3rd word (0-based i % 3 == 2) of the trimmed text."""
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    stride = int(ids.max()) + 1
    memo = {}
    out_ids, out_texts = [], []
    for k in range(copies):
        out_ids.append(ids + k * stride)
        if k == 0:
            out_texts.extend(texts)
            continue
        for t in texts:
            ws = t.strip().split(" ")
            parts = []
            for i, w in enumerate(ws):
                if i % 3 == 2:
                    key = (w, i)
                    h = memo.get(key)
                    if h is None:
                        h = memo[key] = hashlib.md5(
                            (w + str(i)).encode()).hexdigest()[:4]
                    parts.append("%s zq%d%s" % (w, k, h))
                else:
                    parts.append(w)
            out_texts.append(" ".join(parts))
    reps = lambda name: pa.concat_arrays(  # noqa: E731
        [docs.column(name).combine_chunks()] * copies)
    return pa.table({
        "doc_id": pa.array(np.concatenate(out_ids)),
        "text": pa.array(out_texts),
        "lang": reps("lang"),
        "source": reps("source"),
        "n_chars": pa.array([len(t) for t in out_texts], type=pa.int64()),
    })


def stream_deltas(rng, base_texts, bench_texts, batches, per_batch, id0):
    """Delta batches with ids above every base id. Every batch has the
    same mix at fixed positions: 10% exact dups and 10% near-dups of
    random base docs, 5% + 5% exact and near cross-batch dups of the
    previous batch's fresh docs, 5% benchmark-contaminated, 65% fresh."""
    rows_b, rows_id, rows_t = [], [], []
    prev_fresh = []
    nid = id0
    for b in range(batches):
        fresh = []
        for k in range(per_batch):
            slot = k * 100 // per_batch
            if slot < 10:
                t = base_texts[int(rng.integers(0, len(base_texts)))]
            elif slot < 20:
                t = base_texts[int(rng.integers(0, len(base_texts)))] + " dup"
            elif slot < 30 and prev_fresh:
                t = prev_fresh[int(rng.integers(0, len(prev_fresh)))]
                if slot >= 25:
                    t += " dup"
            elif slot < 35:
                t = _contaminate(rng, _fresh(rng), bench_texts)
            else:
                t = _fresh(rng)
                fresh.append(t)
            rows_b.append(b)
            rows_id.append(nid)
            rows_t.append(t)
            nid += 1
        prev_fresh = fresh
    return pa.table({
        "batch": pa.array(rows_b, type=pa.int32()),
        "doc_id": pa.array(rows_id, type=pa.int64()),
        "text": pa.array(rows_t),
    })


# ------------------------------------------------------------ workloads

SIZES = {
    # distill: events / instances
    "distill_events": 10_000, "distill_instances": 10,
    # pretrain: sf0.1-model docs x GenSf copies; oracle corpus size
    "pretrain_base": 2_500, "pretrain_copies": 2, "pretrain_oracle": 300,
    # stream: base docs, delta batches x docs per batch
    "stream_base": 2_500, "stream_batches": 25, "stream_batch_docs": 100,
    # side inputs for layer probes of workloads that lack the table
    "probe_events": 10_000, "probe_instances": 10, "probe_docs": 1_500,
}


def generate(workload, seed, out, trace=False):
    """Write the inputs of `workload` under `out`; return a manifest of
    {name: {"path", "rows", "sha256_16"}}."""
    rng = np.random.default_rng([seed, 0x6AF7])
    os.makedirs(out, exist_ok=True)
    tables = {}

    def put(name, table):
        d = os.path.join(out, name)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, table_file(name))
        _write(path, table)
        tables[name] = {"path": path, "rows": table.num_rows,
                        "sha256_16": _digest(path)}

    if workload == "distill":
        put("distill", events(rng, SIZES["distill_events"],
                              SIZES["distill_instances"]))
    elif workload == "pretrain":
        base = documents(rng, SIZES["pretrain_base"])
        put("pretrain", replicate(base, SIZES["pretrain_copies"]))
        put("oracle", documents(rng, SIZES["pretrain_oracle"]))
    elif workload == "stream":
        bench = documents(rng, BENCH_DOCS, id0=-BENCH_DOCS)
        bench_texts = bench.column("text").to_pylist()
        base = documents(rng, SIZES["stream_base"], bench=bench_texts)
        put("bench", bench)
        put("base", base)
        put("deltas", stream_deltas(
            rng, base.column("text").to_pylist(), bench_texts,
            SIZES["stream_batches"], SIZES["stream_batch_docs"],
            SIZES["stream_base"]))
    else:
        raise ValueError("unknown workload %r" % workload)
    if trace:
        # layer probes run every layer on every workload; a workload
        # without events or docs gets a small seeded side table
        prng = np.random.default_rng([seed, 0x7EACE])
        if workload == "distill":
            put("probe_docs", documents(prng, SIZES["probe_docs"]))
        else:
            put("probe_events", events(prng, SIZES["probe_events"],
                                       SIZES["probe_instances"]))
    return tables


def table_file(name):
    """Query code reads `<dir>/events.parquet` / `<dir>/documents.parquet`,
    so each input lives in its own directory under the table's name."""
    if name in ("distill", "probe_events"):
        return "events.parquet"
    if name == "deltas":
        return "deltas.parquet"
    return "documents.parquet"
