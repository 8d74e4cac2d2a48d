#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the benchmark from source, then
runs one workload in a fresh JVM and prints its result.

    python3 perfbench/run.py --workload forecast_batch --seed 1 --seconds 5 --trace 0

Run it from the repository root. Everything it builds, generates or logs
lands under `.bench_build/` in the working directory. The last line of
standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. See perfbench/NOTES.md.
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

WORKLOADS = ("forecast_batch", "forecast_interactive", "dedup_curation")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 175
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Jars of $SPARK_HOME, else of the Spark install whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    fail("no Spark jars found: set SPARK_HOME")


def sources(root, exts):
    out = []
    for ext in exts:
        out += glob.glob(os.path.join(root, "**", "*" + ext), recursive=True)
    return sorted(out)


def build(work):
    """Compiles src/main and perfbench/src into one class directory, keyed
    by a hash of every source file, and returns the runtime classpath."""
    main_src = sources("src/main", (".scala", ".java"))
    bench_src = sources("perfbench/src", (".scala",))
    if not bench_src:
        fail("perfbench/src holds no sources")
    jars = spark_jars()
    h = hashlib.sha256()
    for p in main_src + bench_src:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    out = os.path.join(work, "classes-" + h.hexdigest()[:16])
    extra = [d for d in ("src/main/resources",) if os.path.isdir(d)]
    cp_runtime = [out] + extra + jars
    if os.path.exists(os.path.join(out, ".ok")):
        return cp_runtime
    for old in glob.glob(os.path.join(work, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(jars), "-d", out]
    run_build(cmd + main_src + bench_src, "scalac")
    java_src = [p for p in main_src if p.endswith(".java")]
    if java_src:
        run_build(["javac", "-nowarn", "-d", out, "-cp",
                   os.pathsep.join([out] + jars)] + java_src, "javac")
    open(os.path.join(out, ".ok"), "w").close()
    print(f"[perfbench] built {len(main_src) + len(bench_src)} sources "
          f"in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp_runtime


def run_build(cmd, what):
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{what} timed out")
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-6000:])
        fail(f"{what} failed")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir("src/main/scala"):
        fail("src/main/scala not found: run from the repository root")

    work = os.path.abspath(".bench_build")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cp = build(work)

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    log_path = os.path.join(work, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)

    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}/tmp",
              f"-Dspark.local.dir={run_dir}/local",
              f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join(cp), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work])
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.decode(errors="replace").splitlines()
    if proc.returncode != 0 or not lines:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode} (log: {log_path})")
    json.loads(lines[-1])  # the result line must parse
    print("\n".join(lines))


if __name__ == "__main__":
    main()
