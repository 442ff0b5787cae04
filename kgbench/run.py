#!/usr/bin/env python3
"""KG pipeline benchmark: one command, seeded, oracle-checked.

Run from the root of a checkout:

    python3 kgbench/run.py --workload kg_salted_tables --seed 42 --seconds 5 --trace 0
    python3 kgbench/run.py --self-test

Builds the library and the benchmark from source on first use (sbt, offline),
then runs one JVM at local[nproc] with a pinned, pre-touched heap. The last
line of stdout is one JSON object: correct, attempted, failed and metrics
(end-to-end ones with --trace 0, per-layer ones with --trace 1). Exits
non-zero when an output check fails or the program cannot be built or run.
See kgbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
TARGET = os.path.join(BENCH, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "bench-source-stamp.txt")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
WORKLOADS = ["kg_salted_tables", "kg_stream"]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: library sources, benchmark sources
    and build files."""
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(BENCH, "build.sbt"),
                    os.path.join(BENCH, "project", "build.properties")])
    h = hashlib.sha1()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == stamp:
                return
    log("building library + benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Xmx4g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_LIMIT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH_FILE):
        raise RuntimeError(f"sbt build failed with code {proc.returncode}")
    with open(STAMP_FILE, "w") as fh:
        fh.write(stamp)


def heap():
    """Sized the way the repository's test command sizes SPARK_DRIVER_MEM:
    half the machine's memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(args, run_dir):
    with open(CLASSPATH_FILE) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    mem = heap()
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens,
            # pinned and pre-touched heap, as the main build runs Spark:
            # lazily faulted heap pages cause erratic slowdowns in small VMs
            f"-Xms{mem}", f"-Xmx{mem}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "kgbench.Main", *args]


def run_java(args, run_dir, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    proc = subprocess.Popen(java_cmd(args, run_dir), stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("benchmark JVM exceeded its time limit")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"benchmark JVM exited with code {proc.returncode} and no result")
    return json.loads(lines[-1]), proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="show that the output checks catch broken outputs")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    if not os.path.isdir(SRC) or not os.path.exists(os.path.join(BENCH, "build.sbt")):
        log("run from the root of a checkout: library sources not found under src/main/scala")
        return 2

    start = time.time()
    build()
    build_s = time.time() - start
    run_dir = os.path.join(ROOT, ".kgbench_run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        common = ["--nproc", str(nproc()), "--run-dir", run_dir]
        if a.self_test:
            res, code = run_java(common + ["--self-test", "1"], run_dir,
                                 time.time() + RUN_LIMIT_S)
            print(json.dumps(res))
            return 0 if code == 0 and res.get("self_test_passed") is True else 1
        args = common + ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace)]
        # the build does not count against the run's own time limit
        res, code = run_java(args, run_dir, start + build_s + RUN_LIMIT_S)
        res["correct"] = code == 0 and res["failed"] == 0
        print(json.dumps(res))
        return 0 if res["correct"] else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as ex:
        log(f"error: {ex}")
        sys.exit(1)
