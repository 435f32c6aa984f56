#!/usr/bin/env python3
"""Streaming CDC benchmark entry point.

    python3 cdcbench/run.py --workload drain|live --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. Builds the harness together with
graft's sources (sbt, see cdcbench/build.sbt) when they changed since the
last build, runs one workload in a fresh JVM, and relays its result: the last
line of stdout is one JSON object with the keys correct, attempted, failed
and metrics. Exits non-zero, printing no result, when the build or the run
fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "cdcbench.stamp")
OUT = os.path.join(HERE, "out")
DEADLINE_S = 170  # a whole invocation, build excluded
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def spark_home():
    """$SPARK_HOME, else the first Spark installation (bin/spark-submit next
    to a jars directory) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if os.path.isfile(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("Spark not found: set SPARK_HOME")


def fail(msg):
    print(f"[cdcbench] {msg}", file=sys.stderr)
    sys.exit(1)


def sources_digest():
    """Digest of everything the build reads: harness and graft sources."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no graft sources next to the benchmark; run from a checkout")
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return digest
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}").strip()
    try:
        # products = compile + resources (the data source registrations)
        p = subprocess.run(["sbt", "-batch", "Compile / products"], cwd=HERE,
                           env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        fail(f"build failed ({p.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)
    return digest


def java_cmd(a, trace, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    spark_jars = os.path.join(spark_home(), "jars")
    opens = [x for p in ADD_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [java, *opens, "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-cp", f"{CLASSES}{os.pathsep}{spark_jars}/*", "cdcbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(trace),
            "--work", work]


def run_jvm(a, trace, deadline, baseline=None):
    """Runs one workload in a fresh JVM; returns its result line."""
    work = os.path.join(HERE, "work", f"{a.workload}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(a, trace, work)
    if baseline:
        cmd += ["--baseline", baseline]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"run failed ({proc.returncode})")
    if trace == 1:
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(OUT, f"spans-{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["drain", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    digest = build()
    deadline = time.time() + DEADLINE_S
    os.makedirs(OUT, exist_ok=True)
    # a traced run's overhead baseline: the untraced result of this seed
    # from a build of the same sources, else an untraced run made now
    stored = os.path.join(OUT,
                          f"result-{a.workload}-{a.seed}-{digest[:12]}.json")
    if a.trace == 0 or not os.path.exists(stored):
        line = run_jvm(a, 0, deadline)
        with open(stored, "w") as f:
            f.write(line + "\n")
    if a.trace == 1:
        line = run_jvm(a, 1, deadline, stored)
    print(line, flush=True)


if __name__ == "__main__":
    main()
