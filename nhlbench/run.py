#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 nhlbench/run.py --workload daily_load --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the harness and
the engine from source with sbt (into nhlbench/target); later runs reuse
the build while the sources are unchanged. Each run starts one JVM with
a fixed heap and one client thread on local[k] Spark, k = min(4, cores),
works under nhlbench/work/ (removed afterwards) and writes spans of
traced runs to nhlbench/out/. The last line of standard output is the
result JSON; the exit code is non-zero if any output check failed.
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
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
# the dashboard's tables: the repository's scale-0.01 test set, read only
DATA = os.path.join(HERE, "data", "sf0.01")
BUILD_STATE = os.path.join(HERE, "target", "nhlbench-build.json")
WORKLOADS = ("daily_load", "warehouse_query", "graph_rounds")
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the engine's build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[nhlbench] {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    """Hash of every source the build reads."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """The runtime classpath, building first if the sources changed."""
    fp = fingerprint()
    try:
        with open(BUILD_STATE) as f:
            state = json.load(f)
        if state["fingerprint"] == fp:
            return state["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    print("[nhlbench] building harness and engine with sbt", file=sys.stderr)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines if "target" in ln and os.pathsep in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(os.path.dirname(BUILD_STATE), exist_ok=True)
    with open(BUILD_STATE, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cps[-1]}, f)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"test tables not found under {os.path.relpath(DATA)}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")

    started = time.time()
    cp = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cores = min(4, os.cpu_count() or 1)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # no hsperfdata file in the system temp directory: a run writes only
    # inside its checkout. Two JIT compiler threads instead of the
    # default three: the timed op runs while the JIT is still compiling
    # Spark, and a third compiler thread takes CPU from the four task
    # threads (see NOTES.md)
    cmd = ([java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", "-XX:CICompilerCount=2",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "nhlbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--out", out, "--data", DATA,
            "--cores", str(cores)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                             text=True, start_new_session=True)

    def stop(*_):
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
    signal.signal(signal.SIGTERM, lambda *x: (stop(), sys.exit(3)))
    result = None
    try:
        budget = RUN_TIMEOUT_S - (time.time() - started)
        try:
            stdout, _ = child.communicate(timeout=max(30, budget))
        except subprocess.TimeoutExpired:
            stop()
            fail("run timed out", 3)
        for line in stdout.splitlines():
            if line.startswith("{"):
                result = line
            else:
                print(line)
    finally:
        stop()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        fail(f"no result (exit code {child.returncode})", 4)
    print(result, flush=True)
    sys.exit(child.returncode)


if __name__ == "__main__":
    main()
