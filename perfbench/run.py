#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and the
library from the checkout's sources (sbt, into .bench_build/); later runs
reuse the build while the sources are unchanged. The run itself is one
JVM (Spark local[<cores>]) working under .bench_build/work/.

Output: a report (every metric with its unit, the checks, the seed), then
as the last line one JSON object with the keys correct, attempted, failed
and metrics. With --trace 0 the metrics are the end-to-end metrics, with
--trace 1 the per-layer metrics; a traced run also writes its per-layer
figures and span self times to .bench_build/traces/ for trace_diff.py.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 165  # a run (after any build) must end within 180 s
BUILD_TIMEOUT_S = 850

WORKLOADS = ("batch_refresh", "table_churn", "cdc_stream")

# what spark-submit would pass to a JDK 17 driver
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME or put spark-submit on PATH)")
    return jars


def sources_stamp():
    """Hash of every input of the build, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(jars):
    """Compile the harness with the library; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = sources_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        env = dict(os.environ, BENCH_SPARK_JARS=jars)
        env.setdefault("COURSIER_MODE", "offline")
        log_path = os.path.join(BUILD, "build.log")
        with open(log_path, "w") as log:
            p = subprocess.Popen(
                ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
                 f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                start_new_session=True)
            try:
                out, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                kill(p)
                fail(f"build timed out; see {log_path}")
            log.write(out)
        lines = [l.strip() for l in out.splitlines() if l.strip()]
        if p.returncode != 0 or not lines or "classes" not in lines[-1]:
            fail(f"build failed; see {log_path}")
        with open(cp_file, "w") as f:
            f.write(lines[-1])
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return lines[-1]


def kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--orders", type=int, help="input size in orders rows (default per workload)")
    a = ap.parse_args()

    jars = spark_jars()
    cp = build(jars)

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for pkg in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--result", result_path]
    if a.orders:
        cmd += ["--orders", str(a.orders)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    log_path = os.path.join(BUILD, f"last-{a.workload}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill(p)
            fail(f"run exceeded its time limit; see {log_path}")
    if p.returncode != 0 or not os.path.exists(result_path):
        fail(f"run failed (exit {p.returncode}); see {log_path}")
    with open(result_path) as f:
        r = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    metrics = r["layer"] if a.trace else r["e2e"]
    finite = all(isinstance(m["value"], (int, float)) and math.isfinite(m["value"])
                 for m in metrics.values())
    correct = bool(r["correct"]) and finite and r["attempted"] >= 1

    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds:g}  trace {a.trace}  "
          f"orders_rows {r['orders_rows']}  cores {r['cores']}")
    for title, ms in (("end-to-end", r["e2e"]), ("per-layer", r["layer"]),
                      ("workload detail", r["detail"])):
        if ms:
            print(f"-- {title}")
            for k, m in ms.items():
                print(f"   {k:40s} {fmt(m['value']):>14s} {m['unit']}")
    ff = r["failed"] / r["attempted"] if r["attempted"] else 1.0
    print(f"   {'failed_frac':40s} {ff:>14.6g} ratio  ({r['failed']} of {r['attempted']})")
    for n in r["notes"]:
        print(f"   note: {n}")
    print("-- checks")
    for c in r["checks"]:
        print(f"   {'ok  ' if c['ok'] else 'FAIL'} {c['name']}" +
              (f": {c['detail']}" if c["detail"] else ""))
    if not finite:
        print("   FAIL a metric is not a finite number")

    if a.trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{a.workload}-seed{a.seed}-{int(time.time())}.json")
        with open(path, "w") as f:
            json.dump({k: r[k] for k in ("workload", "seed", "orders_rows", "cores",
                                         "layer", "detail", "spans")}, f, indent=1)
        print(f"-- trace written to {os.path.relpath(path, ROOT)}")

    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
