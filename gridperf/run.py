#!/usr/bin/env python3
"""Benchmark launcher for the smart-grid engine.

    python3 gridperf/run.py --workload backfill|live|analytics \
        --seed N --seconds S --trace 0|1

Builds the benchmark (gridperf/build.sbt: the engine's src/main/scala
plus gridperf/src/main/scala) with the offline sbt settings when its
sources changed, runs one fresh JVM in a run-unique scratch directory
under gridperf/.runs/ (deleted at exit), and prints the result as one
JSON object on the last line of stdout. Exits non-zero, without a
result, when the build or the run fails.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import uuid

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "gridperf.stamp")
# the fixture root the engine's own mains default to (graft.Bench)
DATA = os.environ.get("GRIDPERF_DATA", "/root/testdata")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"gridperf: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build."""
    files = sorted(
        glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def engine_spark_jars():
    """The Spark jar directory the engine's build declares (unmanagedBase)."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jar directory declared by the engine's build.sbt", 2)
    return m.group(1)


def build():
    """Compiles when the sources changed; returns the seconds it took."""
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return 0.0
    t = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=/root/.sbt/repositories "
        "-Dsbt.offline=true -Xmx3g")
    try:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            timeout=BUILD_LIMIT_S, text=True)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}", 3)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return time.time() - t


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "live", "analytics", "expected"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="hash file to write (workload 'expected')")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}", 2)
    spark_jars = engine_spark_jars()
    build_s = build()

    run_dir = os.path.join(HERE, ".runs", uuid.uuid4().hex)
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_path = os.path.join(run_dir, "result.json")
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # a heap ceiling well above the measured peak, and a fixed young
           # generation, so the peak heap in use (peak_heap_mb) follows the
           # data the program keeps alive rather than the collector's
           # adaptive young-generation sizing
           + ["-Xmx3g", "-Xmn256m",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              f"-Dgridperf.home={HERE}",
              "-cp", CLASSES + os.pathsep + os.path.join(spark_jars, "*"),
              "gridperf.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--run-dir", run_dir, "--data", DATA,
              "--out", os.path.abspath(args.out) if args.out else result_path,
              "--t0-ms", repr((T0 + build_s) * 1000.0)])
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s", 4)
        print(f"[gridperf] +{time.time() - T0:.1f} s JVM exited", file=sys.stderr)
        sys.stdout.write(out)
        if proc.returncode != 0:
            fail(f"benchmark JVM exited with {proc.returncode}", 5)
        if args.workload == "expected":
            return
        with open(result_path) as fh:
            result = json.load(fh)
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail("malformed result", 6)
        print(json.dumps(result), flush=True)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"[gridperf] +{time.time() - T0:.1f} s cleaned up", file=sys.stderr)


if __name__ == "__main__":
    main()
