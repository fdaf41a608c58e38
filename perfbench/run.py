#!/usr/bin/env python3
"""graft benchmark: one workload run in a fresh JVM.

    python3 perfbench/run.py --workload distill|pretrain|stream \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program and the
harness from source (scalac from the Spark distribution's jars) into
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench); later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed, launches one JVM (set-up, warm-up, a timed window of
closed-loop passes, at least two and at least S seconds' worth, output
checks), checks the outputs, removes
its data and prints one JSON result as the last line of stdout. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
MAX_CORES = 4
# a fixed-size heap: no resizing decisions mid-run, which made pass times
# and peak RSS vary from run to run
JVM_HEAP = "2g"
# a run must end within 180 s; the JVM is killed 5 s before that (a first
# run's build does not count against it)
RUN_TIMEOUT_S = 175
# warm-up passes (micro-batches on stream) run during set-up; a first
# timed pass after fewer was still 10-25% slower than the next one, because
# the JIT keeps compiling for several passes
WARMUP = {"distill": 2, "pretrain": 2, "stream": 1}
# the timed window runs at least this many passes, and more only while
# --seconds have not passed. With run_seconds below the time these passes
# take, every run on the same host times the same number of passes: a
# window cut by time alone timed 2 passes on some runs and 3 on others,
# which moved the median with the warm-up trend.
MIN_PASSES = 2
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def build_dir():
    return os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                        "perfbench")


def sources():
    prog = os.path.join("src", "main", "scala")
    if not os.path.isdir(prog):
        raise SystemExit("perfbench: no program sources under %s; run from the "
                         "repository root" % prog)
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile the program and the harness; reuse a build of the same
    sources."""
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit("perfbench: Spark jars not found at %s" % SPARK_JARS)
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(os.path.abspath(f) for f in files) + "\n")
    log("building %d sources" % len(files))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-Djava.io.tmpdir=" + build_dir(),
         "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: build failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    log("built in %.1f s" % (time.time() - t0))
    return out


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_CORES, n))


def run_jvm(classes, workload, data, work, seconds, trace, rows):
    """Launch the harness JVM; returns (result dict, launch epoch s)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd = ["java", "-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP] + opens + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
        "graftbench.Main",
        "workload=" + workload, "data=" + data, "work=" + work,
        "seconds=%s" % seconds, "trace=%d" % trace, "cores=%d" % cores(),
        "warmup=%d" % WARMUP[workload], "passes=%d" % MIN_PASSES,
        "rows=%d" % rows]
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        launched = time.time()
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S - (time.time() - START) + BUILD_S)
        except (subprocess.TimeoutExpired, KeyboardInterrupt, SystemExit):
            proc.kill()
            proc.wait()
            tail(logf)
            raise SystemExit("perfbench: harness JVM timed out or was interrupted")
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        tail(logf)
        raise SystemExit("perfbench: harness JVM exited with code %d" % rc)
    with open(res_path) as fh:
        return json.load(fh), launched


def tail(path, n=40):
    """The harness's own log lines, then the last n lines of the log."""
    try:
        with open(path) as fh:
            lines = fh.readlines()
    except OSError:
        return
    sys.stderr.write("".join(l for l in lines[:-n] if l.startswith("[perfbench]")))
    sys.stderr.write("".join(lines[-n:]))


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        for aa in (m * (b - m) * x / ((qam + m2) * (a + m2)),
                   -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta((n+1)q, (n+1)(1-q))
    weighted mean of all order statistics. With few samples it moves far
    less from run to run than a single order statistic: a distill pass has
    21 queries, and its 90th percentile otherwise sits on whichever query
    ranks third, right on the gap between the slowest ones."""
    s = sorted(xs)
    n = len(s)
    if n == 1:
        return s[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def end_to_end(workload, res, launched, attempted, failed):
    passes = res["passes"]
    pass_ids = {p["pass"] for p in passes}
    op_s = [o["s"] for o in res["ops"] if o["pass"] in pass_ids]
    pass_s = [p["s"] for p in passes]
    run_s = statistics.median(pass_s)
    batch = op_s if workload == "stream" else pass_s
    m = {
        "setup_s": res["timed_start_ms"] / 1000.0 - launched,
        "run_s": run_s,
        "rows_per_s": res["rows_per_pass"] / run_s,
        "query_p50_s": quantile(op_s, 0.5),
        "query_p90_s": quantile(op_s, 0.9),
        "batch_p50_s": quantile(batch, 0.5),
        "batch_p90_s": quantile(batch, 0.9),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "peak_rss_mb": res["peak_rss_mb"],
        "ok_frac": (attempted - failed) / attempted,
    }
    samples = {"passes": len(pass_s), "query_p*": len(op_s), "batch_p*": len(batch)}
    return m, samples


def per_layer(res):
    m = dict(res["layers"])
    m["GraftSession.build_s"] = res["build_s"]
    m["GraftSession.warmup_s"] = res["warmup_s"]
    m["trace.overhead_s"] = res["trace_overhead_s"]
    return m


def contract():
    path = "BENCHMARK.json"
    with open(path) as fh:
        b = json.load(fh)
    return b["end_to_end"], b["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    global BUILD_S
    e2e_spec, layer_spec = contract()
    t0 = time.time()
    classes = build()
    BUILD_S = time.time() - t0
    work = os.path.join(build_dir(), "runs", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        t0 = time.time()
        manifest = gen.generate(a.workload, a.seed, data, trace=bool(a.trace))
        log("inputs in %.2f s: %s" % (time.time() - t0, json.dumps(
            {k: [v["rows"], v["sha256_16"]] for k, v in manifest.items()})))
        rows = manifest[a.workload]["rows"] if a.workload in manifest else 0
        res, launched = run_jvm(classes, a.workload, data, work, a.seconds, a.trace, rows)
        log("session %.2f s, warm-up %.2f s, timed window %.2f s, passes %s" % (
            res["build_s"], res["warmup_s"], res["timed_s"],
            [round(p["s"], 3) for p in res["passes"]]))
        t0 = time.time()
        verdict = checks.check(a.workload, res, data, work)
        log("checks in %.2f s: %s" % (time.time() - t0, json.dumps(verdict["summary"])))
        if res.get("spark_failed_tasks") or res.get("spark_aborted_jobs"):
            log("spark-level failures (not failed operations): %d failed tasks, "
                "%d aborted jobs" % (res["spark_failed_tasks"], res["spark_aborted_jobs"]))
        attempted, failed = verdict["attempted"], verdict["failed"]
        if a.trace:
            values = per_layer(res)
            specs = layer_spec
            trace_path = os.path.join(build_dir(), "trace-%s.json" % a.workload)
            with open(trace_path, "w") as fh:
                json.dump({"layers": values, "spans": res["spans"],
                           "inputs": manifest}, fh)
            log("trace written to %s" % trace_path)
            print("layers: " + json.dumps(values, sort_keys=True))
        else:
            values, samples = end_to_end(a.workload, res, launched, attempted, failed)
            specs = e2e_spec
            print("samples: " + json.dumps(samples))
        metrics = {}
        for spec in specs:
            v = values.get(spec["name"])
            if v is None or v != v:
                raise SystemExit("perfbench: metric %s was not measured" % spec["name"])
            metrics[spec["name"]] = {"value": v, "unit": spec["unit"]}
        print(json.dumps({"correct": verdict["correct"] and failed == 0,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _terminate(signum, frame):
    raise SystemExit("perfbench: terminated by signal %d" % signum)


START = time.time()
BUILD_S = 0.0
if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    main()
