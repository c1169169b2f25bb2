#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with the package's own sbt
build (only when a source changed since the last build), then runs one
benchmark JVM and prints its result object as the last line of stdout.
Everything it writes stays under perfbench/target and perfbench/.work.
Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(BENCH, ".work")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
WORKLOADS = ("ingest_year", "compare_compile", "query_mix")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# cached generated inputs kept per workload (each seed has its own entry)
KEEP_INPUTS = 2

# Spark 4 on JDK 17 outside spark-submit needs the same module openings
# the engine's own build passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every source and build file the benchmark JVM is built from."""
    h = hashlib.sha256()
    trees = [ENGINE, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for tree in trees:
        for d, dirs, names in os.walk(tree):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def call(cmd, cwd, env, timeout):
    """Runs `cmd` in its own process group with its output on stderr; on
    timeout kills the whole group. Returns the exit code."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"[perfbench] {cmd[0]} exceeded {timeout} s")


def build():
    stamp = fingerprint()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    log("building engine + benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code = call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                BENCH, env, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"[perfbench] build failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    log(f"built in {time.time() - t0:.1f} s")


def evict_inputs(workload):
    """Keeps the most recent KEEP_INPUTS - 1 cached inputs of `workload`,
    leaving room for this run's."""
    d = os.path.join(WORK, "inputs")
    if not os.path.isdir(d):
        return
    entries = sorted((e for e in os.scandir(d) if e.name.startswith(workload + "-s")),
                     key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[KEEP_INPUTS - 1:]:
        shutil.rmtree(e.path, ignore_errors=True)


def run(args):
    cwd = os.path.join(WORK, "cwd")
    tmp = os.path.join(WORK, "tmp")
    for d in (cwd, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    if args.workload != "query_mix":
        evict_inputs(args.workload)
    out = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    # The heap starts at 2 GB so that G1's timing-dependent growth from a
    # small initial heap does not decide peak_rss_mb (it spread 0.20 over
    # ten seeds that way, 0.01 with the fixed start).
    cmd = ["java", "-Xms2g", "-Xmx3g",
           "-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--work", WORK]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both inside
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    t0 = time.time()
    try:
        # inputs are generated (or found cached) in a JVM of their own
        code = call(cmd + ["--generate", "1"], cwd, env, RUN_TIMEOUT_S)
        if code == 0:
            code = call(cmd + ["--seconds", str(args.seconds), "--trace", str(args.trace),
                               "--out", out], cwd, env, RUN_TIMEOUT_S - (time.time() - t0))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"[perfbench] benchmark JVM failed (exit {code})")
    with open(out) as fh:
        return fh.read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        raise SystemExit(f"[perfbench] engine sources not found under {ENGINE}")
    os.makedirs(WORK, exist_ok=True)
    build()
    print(run(args), flush=True)


if __name__ == "__main__":
    main()
