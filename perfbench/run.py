#!/usr/bin/env python3
"""Benchmark runner for the graft vector-search engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Compiles the engine and the benchmark from source (perfbench/build.py)
when a source changed since the last build, then runs one workload in one
JVM with Spark in local mode on every core of the machine. Standard output ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}. The full
record of the run (spans, ingest figures, contention stamp) is kept under
.bench_build/perfbench/records/. Exits non-zero when a check fails or the
run cannot start.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
from build import BuildError, build, java

WORKLOADS = ("ivfpq-cos-read", "lsh-ingest-mixed")
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the engine's own build
# passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    root = os.getcwd()
    bench = os.path.join(root, "perfbench")
    engine = os.path.join(root, "src", "main", "scala", "graft")
    if not os.path.isdir(engine) or not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("run from the root of a checkout: the engine sources (src/main/scala/graft) "
             "and its build.sbt must be present")

    state = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    proc = None

    def stop(signum=None, frame=None):
        # a signal during the build exits through build()'s clean-up
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"stopped by signal {signum}" if signum else f"run exceeded {RUN_TIMEOUT_S} s", 3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    os.makedirs(os.path.join(state, "records"), exist_ok=True)
    try:
        cp = build(root)
    except (BuildError, OSError) as e:
        fail(f"build failed: {e}")

    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    cmd = ([java(), f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={bench}/log4j2.properties",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", args.trace, "--cores", str(cores), "--work", work])
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()

    record = os.path.join(work, "record.json")
    if os.path.exists(record):
        shutil.copy(record, os.path.join(
            state, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"))
    shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stdout.write(out)
        fail(f"run ended without a result (exit {proc.returncode})", proc.returncode or 4)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
