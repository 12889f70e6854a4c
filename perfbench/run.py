#!/usr/bin/env python3
"""graft benchmark runner.

Builds the benchmark (and with it the library) from the checkout it runs
in, runs one workload in one JVM (Spark local[N], one closed-loop client)
for a fixed number of cycles sized from --seconds, checks every answer,
and prints one JSON line last:

    python3 perfbench/run.py --workload log_serve --seed 1 --seconds 20 --trace 0

Run it from the root of the checkout. See perfbench/METRICS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "bench.classpath")
STAMP = os.path.join(WORK, "build.stamp")
WORKLOADS = ("log_serve", "curate_batch", "index_serve")
# a run (set-up + window + checks) must end well inside 180 s
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"
# Spark local[2] on the 4-core box (never more than the machine has): one
# client drives small queries, so two task threads lose nothing, and the
# cores left free absorb co-tenants and the host taking CPU time (steal)
# instead of stretching every timed op
CORES = min(2, os.cpu_count() or 1)
# the JVM's own thread pools sized to match
JVM_THREADS = ["-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
               "-XX:CICompilerCount=2"]

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the root build, library sources, and
    the benchmark's own build and sources."""
    tops = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    out = [p for p in tops if os.path.isfile(p)]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile with sbt, offline, once per source state."""
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.server.autostart=false",
           "writeClasspath"]
    t0 = time.time()
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 3)
    os.makedirs(WORK, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"build: {time.time() - t0:.1f} s")


def commit_id():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "none"


def run_jvm(args, work, deadline):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + JVM_THREADS
           + opens + ["-cp", cp, "graftbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("run timed out", 4)
    sys.stdout.write(out)
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}", 5)


def canon(cols, rows):
    """Rows as sorted tuples over name-sorted columns; doubles rounded so
    engine summation order cannot decide a match."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return round(v, 9)
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=repr)


def oracle_checks(work):
    """Run each registry oracle SQL in DuckDB over the same inputs and
    compare with the benchmark's answer. Returns (checked, failures)."""
    path = os.path.join(work, "oracle", "checks.jsonl")
    if not os.path.isfile(path):
        return 0, []
    import duckdb
    with open(path) as f:
        checks = [json.loads(line) for line in f if line.strip()]
    failures = []
    for c in checks:
        con = duckdb.connect()
        try:
            for name, p in c["tables"].items():
                con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{p}/*.parquet')")
            w = con.sql(c["sql"])
            want = canon(w.columns, w.fetchall())
            got = canon(c["columns"], c["rows"])
            if got != want:
                if got[0] != want[0]:
                    why = f"columns {got[0]} vs oracle {want[0]}"
                else:
                    diff = [r for r in got[1] if r not in want[1]][:1] or \
                        [r for r in want[1] if r not in got[1]][:1]
                    why = (f"{len(got[1])} rows vs oracle {len(want[1])}, "
                           f"first difference {diff}")
                failures.append(f"oracle {c['name']}: {why}")
        except Exception as e:  # a broken check is a failed check
            msg = str(e).strip().splitlines()[0] if str(e).strip() else ""
            failures.append(f"oracle {c['name']}: {type(e).__name__}: {msg}")
        finally:
            con.close()
    return len(checks), failures


def metric_spec(trace):
    """{name: unit} of the metrics BENCHMARK.json names for this mode."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    except (OSError, ValueError, KeyError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", type=int, choices=(0, 1), default=0,
                    help="self-test: corrupt every expected answer")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and "
             "src/main/scala/graft not found)")
    build(source_hash())

    deadline = time.time() + RUN_TIMEOUT_S
    work = os.path.join(WORK, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0_ms = int(time.time() * 1000)
    run_jvm(["--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--work", work, "--cores", str(CORES), "--t0-ms", str(t0_ms),
             "--commit", commit_id(), "--corrupt-expected", str(a.corrupt_expected)],
            work, deadline)

    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    checked, bad = oracle_checks(work)
    for b in bad:
        print(f"FAILED {b}")
    print(f"oracle: {checked - len(bad)}/{checked} checks match")

    spec = metric_spec(a.trace) or {n: res["metrics"][n]["unit"]
                                     for n in res["per_layer" if a.trace else "end_to_end"]}
    names = list(spec)
    wrong = [n for n in names if res["metrics"].get(n, {}).get("unit") != spec[n]]
    if wrong:
        fail(f"benchmark did not report {wrong} in the units BENCHMARK.json gives", 6)
    env = res["env"]
    print("env: " + ", ".join(f"{k}={v}" for k, v in env.items()))

    # keep the run's record (result, spans, oracle checks, JVM log), drop
    # its inputs, indexes and engine scratch
    for name in os.listdir(work):
        if name not in ("result.json", "spans.jsonl", "jvm.log", "oracle"):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)

    failed = res["failed"] + len(bad)
    print(json.dumps({
        "correct": bool(res["correct"]) and not bad,
        "attempted": res["attempted"] + checked,
        "failed": failed,
        "metrics": {n: res["metrics"][n] for n in names},
    }))


if __name__ == "__main__":
    main()
