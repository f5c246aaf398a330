#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <golden_rebuild|incremental_ingest>
        --seed <n> --seconds <s> --trace <0|1> [--scale full|smoke] [--record <file>]

The harness (perfbench/src) is compiled together with the repository's
own sources (src/main/scala) by the sbt project in this directory; the
build is redone only when a source or build file changed. Everything the
run writes stays under .bench_build/ in the repository root.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SOURCES = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"
# C2 compiles after a fifth of its default invocation counts, so the
# untimed warm-up pass brings the JVM to its steady state; with the
# defaults the timed passes were still speeding up pass after pass.
JIT = ["-XX:Tier4InvocationThreshold=1000", "-XX:Tier4MinInvocationThreshold=200",
       "-XX:Tier4CompileThreshold=2000", "-XX:Tier4BackEdgeThreshold=8000"]
# Spark 4 on JDK 17 needs these when started outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    trees = [SOURCES, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Run cmd in its own process group; kill the group on timeout or
    when this script is terminated, and wait for it either way."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=sys.stderr, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s", 4)
    finally:
        for s, h in old.items():
            signal.signal(s, h)
    return p.returncode, out


def build():
    want = stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH", 3)
    t0 = time.time()
    # offline, resolving from the machine's configured repositories, as
    # the main build does
    code, _ = run_group([sbt, "-batch", "-Dsbt.log.noformat=true",
                         "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
                         "compile"],
                        BENCH, BUILD_TIMEOUT_S, stdout=sys.stderr)
    if code != 0:
        fail(f"build failed (sbt exit {code})", 3)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["golden_rebuild", "incremental_ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", default="full", choices=["full", "smoke"])
    ap.add_argument("--record", help="write the traced pass's record here")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(SOURCES, "graft")):
        fail(f"no program sources under {SOURCES}; run from a full checkout", 2)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 distribution", 2)
    java = shutil.which("java")
    if java is None:
        fail("java is not on PATH", 2)

    build()

    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    env.pop("SPARK_GRAFT_JAVA_OPTS", None)
    cmd = [java, f"-Xmx{HEAP}", *JIT, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
    cmd += ["-cp", os.pathsep.join([CLASSES, os.path.join(spark_home, "jars", "*")]),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--scale", a.scale, "--bench-dir", BENCH,
            "--work", os.path.join(WORK, "work")]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    try:
        code, out = run_group(cmd, ROOT, RUN_TIMEOUT_S, env=env,
                              stdout=subprocess.PIPE)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"harness exited with {code}", 5)
    result = json.loads(lines[-1])
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
