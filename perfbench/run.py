#!/usr/bin/env python3
"""Seeded record-linkage benchmark for this repository.

Builds the library (src/main/scala) and the benchmark (perfbench/src) with
the Scala compiler that ships with Spark, then runs one workload, or all
three, on a single local[4] Spark session in one JVM:

    python3 perfbench/run.py --workload transcript_link --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 1
    python3 perfbench/run.py --smoke

Run it from the repository root. Build output goes to .bench_build/, inputs,
snapshots and run records to .bench_work/. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}. The exit
code is 0 only when every unit's outputs passed their check.
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

ROOT = os.getcwd()
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["transcript_link", "address_link", "transcript_ingest"]

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list the repository's sbt build passes.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss8m"]
# Seconds before the benchmark JVM is stopped: one workload, all three, smoke.
TIMEOUT_ONE, TIMEOUT_ALL, TIMEOUT_SMOKE = 170, 900, 600


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, or next to
    the spark-submit found on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark distribution found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found under {os.path.relpath(LIB_SRC)}; "
             "run from the repository root")
    files = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return files


def source_sha(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(jars):
    """Compiles library and benchmark into .bench_build/perfbench/classes,
    skipping the compile when the sources are unchanged."""
    files = sources()
    sha = source_sha(files)
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == sha:
        return classes, sha
    compiler = [glob.glob(os.path.join(jars, f"scala-{name}-2.*.jar"))
                for name in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail("the Spark distribution has no Scala compiler jars")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    t0 = time.time()
    rc = subprocess.call(
        ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=sys.stderr)
    if rc != 0:
        fail("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(sha)
    print(f"[perfbench] compiled in {time.time() - t0:.1f} s", file=sys.stderr, flush=True)
    return classes, sha


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(classes, jars, sha, args, timeout):
    """Runs the benchmark JVM, relaying its stdout; returns (exit code, last
    stdout line). Stops the JVM's whole process group on timeout."""
    # the JVM halts without Spark's shutdown cleanup, so clear what the
    # previous run left in its temp and scratch directories
    tmpdir = os.path.join(WORK, "tmp")
    for d in (tmpdir, os.path.join(WORK, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmpdir)
    log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmpdir}", f"-Dlog4j2.configurationFile={log4j}",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
           *args, "--work", WORK]
    env = dict(os.environ, PERFBENCH_GIT_HEAD=git_head(), PERFBENCH_SOURCE_SHA=sha,
               SPARK_LOCAL_IP="127.0.0.1")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    deadline = time.time() + timeout
    last = ""

    def stop(sig):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass

    def on_alarm(*_):
        print(f"perfbench: timed out after {timeout} s", file=sys.stderr)
        stop(signal.SIGTERM)
        try:
            proc.wait(10)
        except subprocess.TimeoutExpired:
            stop(signal.SIGKILL)
        proc.wait()
        sys.exit(3)

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(max(1, int(deadline - time.time())))
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.strip():
                last = line
            print(line, flush=True)
        rc = proc.wait()
    finally:
        signal.alarm(0)
        stop(signal.SIGKILL)
    return rc, last


def parse_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return None
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at scale 0.001, traced and untraced, and check outputs")
    a = ap.parse_args()
    jars = spark_jars()
    classes, sha = build(jars)
    if a.smoke:
        args = ["--workload", "all", "--seed", "1", "--seconds", "2", "--trace", "1",
                "--scale", "0.001"]
        rc, last = run_jvm(classes, jars, sha, args, TIMEOUT_SMOKE)
        r = parse_result(last)
        ok = rc == 0 and r is not None and r["correct"] and r["failed"] == 0
        print(f"smoke: {'PASS' if ok else 'FAIL'} (exit {rc})", file=sys.stderr)
        sys.exit(0 if ok else 1)
    if None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace]
    rc, last = run_jvm(classes, jars, sha, args,
                       TIMEOUT_ALL if a.workload == "all" else TIMEOUT_ONE)
    if rc == 0 and parse_result(last) is None:
        fail("the benchmark printed no result line", 4)
    sys.exit(rc)


if __name__ == "__main__":
    main()
