"""Output checks of the graft benchmark, run after the timed window.

distill  every query's output equals the DuckDB oracle (SparkEntry.oracleSql)
         over the same parquet input, canonicalised as the repo's
         tools/check.py does: columns sorted by name, rows sorted, values
         compared as strings.
pretrain q96 and q70 are checked against the oracle on a seeded corpus small
         enough for DuckDB; at full size they are checked by invariants
         (contiguous bins, benchmark docs excluded, min-id clusters).
stream   survivors per micro-batch equal a replay of the same batch
         boundaries through PipelineOps.incrementalStep/appendBaseIndexes
         (done in the harness JVM); quarantine equals the docs sharing a
         word 5-gram with a benchmark doc.

Every pass's output must also hash the same as the checked one (done in the
harness). An operation whose output fails a check counts as failed.
"""
import glob
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

BENCH_DOCS = 20


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)
    return df


def _equal(a, b):
    try:
        if bool(pd.isna(a)) != bool(pd.isna(b)):
            return False
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)


def _read_spark(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def compare(spark_df, duck_df):
    """None when equal, else a one-line reason."""
    s, d = _canon(spark_df), _canon(duck_df)
    if list(s.columns) != list(d.columns):
        return "schema %s != %s" % (list(s.columns), list(d.columns))
    if len(s) != len(d):
        return "rows %d != %d" % (len(s), len(d))
    for c in s.columns:
        for i, (a, b) in enumerate(zip(s[c].tolist(), d[c].tolist())):
            if not _equal(a, b):
                return "col %s row %d: %r != %r" % (c, i, a, b)
    return None


def _duck(work, views):
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.sql("SET TimeZone='UTC'")
    con.sql("SET temp_directory='%s'" % tmp)
    con.sql("SET memory_limit='2GB'")
    con.sql("SET threads=4")
    for name, path in views.items():
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (name, path))
    return con


def _oracle(con, sql, path):
    got = _read_spark(path)
    if got is None:
        return "no output"
    try:
        want = con.sql(sql).df()
    except Exception as e:  # the oracle itself failing is a failed check
        return "oracle error: %s" % e
    return compare(got, want)


def _q96_invariants(df):
    bins = sorted(df["bin"].tolist())
    if bins != list(range(len(bins))):
        return "bins not contiguous from 0"
    if len(df) and int(df["first_doc"].min()) < BENCH_DOCS:
        return "a benchmark doc reached the training stream"
    if (df["n_rows"] <= 0).any() or (df["last_doc"] < df["first_doc"]).any():
        return "malformed bin"
    return None


def _q70_invariants(df):
    if (df["cluster_id"] > df["doc_id"]).any():
        return "cluster id above a member id"
    roots = df[df["doc_id"] == df["cluster_id"]]["doc_id"]
    if not set(df["cluster_id"]).issubset(set(roots)):
        return "cluster id is not a member of its cluster"
    if df["doc_id"].duplicated().any():
        return "node in two clusters"
    return None


def _word_grams(text, n=5):
    ws = text.strip().split(" ")
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def check(workload, res, data, work):
    ops = [o for o in res["ops"] if o["pass"] >= 0]
    problems = {}  # op name -> reason
    global_problems = []
    chk = res.get("checks", {})
    if "error" in chk:
        global_problems.append("harness check error: " + chk["error"])

    if workload == "distill":
        con = _duck(work, {"events": os.path.join(data, "distill", "events.parquet")})
        for o in chk.get("outputs", []):
            why = _oracle(con, o["oracle_sql"], o["path"])
            if why:
                problems[o["query"]] = why
    elif workload == "pretrain":
        con = _duck(work, {"documents": os.path.join(data, "oracle", "documents.parquet")})
        inv = {"q96_pretrain_capstone": _q96_invariants,
               "q70_dedup_clusters": _q70_invariants}
        for o in chk.get("outputs", []):
            why = _oracle(con, o["oracle_sql"], o["oracle_path"])
            if not why:
                full = _read_spark(o["path"])
                why = "no output" if full is None else inv[o["query"]](full)
            if why:
                problems[o["query"]] = why
    elif workload == "stream":
        for b in chk.get("mismatched_batches", []):
            problems["batch_%d" % b] = "survivors differ from the replay"
        deltas = pq.read_table(os.path.join(data, "deltas", "deltas.parquet")).to_pandas()
        bench = pq.read_table(os.path.join(data, "bench", "documents.parquet")).to_pandas()
        grams = set().union(*(_word_grams(t) for t in bench["text"]))
        qpath = chk.get("quarantine_path", "")
        got = pq.read_table(qpath).to_pandas() if os.path.isdir(qpath) and glob.glob(
            os.path.join(qpath, "*.parquet")) else pd.DataFrame(columns=["doc_id", "batch_id"])
        for b in range(chk.get("batches_sent", 0)):
            part = deltas[deltas["batch"] == b]
            want = {int(i) for i, t in zip(part["doc_id"], part["text"])
                    if _word_grams(t) & grams}
            have = {int(i) for i in got[got["batch_id"] == b]["doc_id"]}
            if want != have:
                problems.setdefault("batch_%d" % b, "quarantine %d docs, expected %d"
                                    % (len(have), len(want)))
        if chk.get("survivors", 0) == 0:
            global_problems.append("stream produced no survivors")

    for name, why in problems.items():
        if not any(o["name"] == name for o in ops):
            # a warm-up batch: not an operation of the timed window, but
            # the run's output is still wrong
            global_problems.append("%s: %s" % (name, why))
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in problems)
    return {
        "correct": not problems and not global_problems,
        "attempted": len(ops),
        "failed": failed,
        "summary": {"problems": problems, "global": global_problems,
                    "ops": len(ops), "failed": failed},
    }
