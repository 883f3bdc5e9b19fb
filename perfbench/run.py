#!/usr/bin/env python3
"""Run one workload of the relabel-pipeline benchmark.

    python3 perfbench/run.py --workload zarr2d_labels --seed 1 --seconds 10 --trace 0

Builds the benchmark (perfbench/build.sbt: the engine's main sources plus
perfbench/src) on first use or when a source is newer than the last build,
then runs one benchmark JVM on a per-run scratch directory under
.bench_build/ that is deleted at exit. The JVM's last stdout line, the JSON
result, is this script's last stdout line. Exits non-zero without a result
when the engine sources are missing, the build fails, the run fails or it
exceeds its time limit.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

WORKLOADS = ("zarr2d_labels", "vol3d_sorted", "labels2geojson_zip")
BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (as in the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    for d in (os.environ.get("PERFBENCH_SPARK_JARS"),
              os.environ.get("SPARK_HOME") and
              os.path.join(os.environ["SPARK_HOME"], "jars")):
        if d and os.path.isdir(d):
            return d
    submit = shutil.which("spark-submit")
    if submit:
        d = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
        if os.path.isdir(d):
            return d
    fail("no Spark distribution found (set SPARK_HOME or PERFBENCH_SPARK_JARS)")


def newest_source_mtime():
    newest = os.path.getmtime(os.path.join(BENCH, "build.sbt"))
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(jars):
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=jars)
    cmd = [sbt, "--batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(WORK, "sbt-global"), "stageClasspath"]
    t0 = time.time()
    try:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}")
    jars = spark_jars()
    build(jars)
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    os.makedirs(WORK, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=WORK)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx4g", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + os.path.join(tmp, "spark"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--tmp", tmp,
        "--spans", os.path.join(WORK, f"spans-{args.workload}-seed{args.seed}.jsonl"),
    ]
    proc = subprocess.Popen(cmd, cwd=tmp, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)

    def stop():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def on_term(*_):
        stop()
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_term)
    try:
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop()
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        stop()
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        result = None
    if proc.returncode != 0 or not isinstance(result, dict):
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {proc.returncode} and no result")
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()
