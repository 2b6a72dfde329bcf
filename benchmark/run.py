#!/usr/bin/env python3
"""Benchmark of record for psispark: builds the engine and the benchmark from
source, runs one workload in its own JVM and prints the metrics.

    python3 benchmark/run.py --workload serve_hot --seed 1 --seconds 20 --trace 0
    python3 benchmark/run.py --workload all --seed 1 --seconds 20 --trace 1
    python3 benchmark/run.py --selftest

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. Build output,
run data and span files go under .bench_build/ in the repository root.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import report  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ["serve_hot", "serve_cold"]
JVM_TIMEOUT_S = 170
HEAP = "3g"

# JDK 17 module openings Spark needs outside spark-submit (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def die(msg, code=2):
    print("run.py: " + msg, file=sys.stderr)
    sys.exit(code)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not engine:
        die("no engine sources under src/main/scala: run from a full checkout")
    if not bench:
        die("no benchmark sources under benchmark/src")
    return engine + bench


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        die("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("java not found: set JAVA_HOME")
    return exe


def build(jars):
    """Compiles engine + benchmark into .bench_build/classes, skipped when
    the sources are unchanged since the last build."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        die("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    print("run.py: built in %.1f s" % (time.time() - t0), file=sys.stderr)


def jvm(jars, args, work):
    """Runs RepoBench in its own JVM (own process group, bounded time)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ([java()] + ["--add-opens=" + o for o in ADD_OPENS] +
           ["-XX:-UsePerfData", "-Xmx" + HEAP, "-Xss8m", "-Djava.io.tmpdir=" + tmp,
            "-Duser.timezone=UTC",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "psibench.RepoBench"] + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work, start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("workload exceeded %d s" % JVM_TIMEOUT_S, 1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def run_workload(jars, name, seed, seconds, trace):
    work = os.path.join(BUILD, "run", "%s-%d-%d" % (name, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    spans = os.path.join(BUILD, "traces", "%s-seed%d.json" % (name, seed))
    try:
        code = jvm(jars, ["--workload", name, "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(trace), "--cpus", str(os.cpu_count() or 1),
                          "--work", work, "--out", out, "--trace-out", spans], work)
        if code != 0 or not os.path.exists(out):
            die("workload %s failed (exit %d)" % (name, code), 1)
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for failure in rec["failures"]:
        print("FAILED: " + failure, file=sys.stderr)
    host = rec["host"]
    n = len(rec["ops"])
    tail = report.supported_percentile(n)
    print("# %s seed=%d: %d timed queries (highest supported percentile p%s), run %.1f s; "
          "host diagnostic: %.2f busy cores outside this run, %.2f used by it, "
          "%.2f stolen by the hypervisor (of %d)"
          % (name, seed, n, tail, rec["run_s"], host["external_busy_cores"],
             host["own_cores"], host["steal_cores"], host["cores"]))
    if trace and os.path.exists(spans):
        with open(spans) as f:
            selfs = report.self_times(json.load(f))
        print("# span self time (ms): " + ", ".join(
            "%s=%.0f" % kv for kv in sorted(selfs.items(), key=lambda kv: -kv[1])))
    return report.result(rec, trace)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the JVM-side self-test (checker, seeds) and exit")
    a = ap.parse_args()
    problems = report.validate_spec()
    if problems:
        die("metric spec: " + "; ".join(problems))
    jars = spark_jars()
    build(jars)
    if a.selftest:
        code = subprocess.run([java(), "-XX:-UsePerfData",
                               "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
                               "psibench.RepoBench", "selftest"]).returncode
        sys.exit(code)
    if not a.workload:
        die("--workload is required")
    names = WORKLOADS if a.workload == "all" else [a.workload]
    for name in names:
        res = run_workload(jars, name, a.seed, a.seconds, a.trace)
        if a.workload == "all":
            res = dict(res, workload=name)
        print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
