#!/usr/bin/env python3
"""Benchmark entry point: build the program and the driver from source, then
run one workload and print its result as the last line of standard output.

    python3 perfbench/run.py --workload hh_deep --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run compiles the program's
sources (src/main/scala) together with the driver (perfbench/src) through
sbt and caches the classpath under the build directory ($CARGO_TARGET_DIR,
default .bench_build), keyed by a hash of every source file. Each run gets
its own scratch directory under .bench_scratch/, removed when the run ends,
whatever the outcome. Spark runs on local[N], N = the CPUs this process may
use, with as many shuffle partitions.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

WORKLOADS = ("hh_deep", "hh_wide", "table_churn")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 780

CHILDREN = []  # process groups to stop if this process is told to stop


def stop_children(*_):
    for proc in CHILDREN:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    CHILDREN.clear()


def on_signal(signum, _frame):
    stop_children()
    sys.exit(128 + signum)


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def add_opens(root):
    """The --add-opens flags Spark needs on JDK 17 outside spark-submit:
    the jdk17AddOpens list of the root build.sbt, read from it so that the
    benchmark launches the program as its own build does."""
    with open(os.path.join(root, "build.sbt")) as fh:
        text = fh.read()
    m = re.search(r"val jdk17AddOpens = Seq\((.*?)\)", text, re.S)
    mods = re.findall(r'"([\w.]+/[\w.]+)"', m.group(1)) if m else []
    if not mods:
        die("no jdk17AddOpens list in build.sbt")
    return [a for p in mods for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def source_files(root):
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in sorted(os.walk(os.path.join(root, top))):
            for f in sorted(files):
                yield os.path.join(d, f)
    for f in ("build.sbt", "perfbench/build.sbt", "perfbench/project/build.properties"):
        yield os.path.join(root, f)


def source_hash(root):
    h = hashlib.sha256()
    for path in source_files(root):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, build_dir):
    """Compile through sbt once per source hash; return the classpath."""
    cp_file = os.path.join(build_dir, f"classpath-{source_hash(root)}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.repository.config" not in opts and os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        start_new_session=True)
    CHILDREN.append(proc)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop_children()
        die(f"build exceeded {BUILD_TIMEOUT_S} s")
    CHILDREN.remove(proc)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        sys.stderr.write(out[-4000:])
        die("build did not print a usable classpath")
    os.makedirs(build_dir, exist_ok=True)
    for old in os.listdir(build_dir):
        if old.startswith("classpath-"):
            os.remove(os.path.join(build_dir, old))
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def driver_heap_mb():
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(1024, min(2048, kb // 1024 // 4))
    except (OSError, StopIteration, ValueError):
        return 1024


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def fresh_scratch(root):
    """A per-run scratch dir; also removes leftovers of killed runs."""
    base = os.path.join(root, ".bench_scratch")
    os.makedirs(base, exist_ok=True)
    for name in os.listdir(base):
        pid = name.rsplit("-", 1)[-1]
        if not (pid.isdigit() and pid_alive(int(pid))):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    path = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/pipeline/HouseholdPipeline.scala",
                 "src/main/scala/graft/sources/Loader.scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the repository root of a full checkout")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                             "perfbench")
    cp = build(root, build_dir)

    cpus = len(os.sched_getaffinity(0))
    scratch = fresh_scratch(root)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    heap = driver_heap_mb()
    # The whole fixed heap is made resident at start. Otherwise the share of
    # it that the collector touches follows its adaptive young-generation
    # size, which follows pause times, i.e. machine load, and peak RSS
    # swings by hundreds of MB between runs of the same code.
    cmd = [java, f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+AlwaysPreTouch",
           *add_opens(root),
           f"-Djava.io.tmpdir={scratch}",
           f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--scratch", scratch, "--traces", os.path.join(build_dir, "traces")]
    # few malloc arenas, so that native memory kept by the JIT and Spark's
    # threads does not depend on how those threads happened to interleave
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    CHILDREN.append(proc)
    # a run that hangs is killed, which also ends the read loop below
    watchdog = threading.Timer(RUN_TIMEOUT_S, stop_children)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        rc = proc.wait()
    finally:
        timed_out = not watchdog.is_alive()
        watchdog.cancel()
        stop_children()
        shutil.rmtree(scratch, ignore_errors=True)
    if timed_out:
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    if rc != 0 or last is None or not last.startswith("{"):
        if last is not None and not last.startswith("{"):
            print(last)
        die(f"run failed (exit {rc})")
    print(last, flush=True)


if __name__ == "__main__":
    main()
