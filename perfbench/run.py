#!/usr/bin/env python3
"""Benchmark of the zoomspark ETL and a sample of its declared-query slate.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl --seed 1 --seconds 24 --trace 0

Workloads: etl, slate_sample (see BENCHMARK.json).
The first run builds the repository and the benchmark with sbt, offline,
and keeps the classpath under .bench_build/; later runs reuse it while the
sources are unchanged. Each run is one JVM (perfbench/src, graft.perfbench.Main)
that prints a report and, as its last line, one JSON result object.
`--trace 1` adds per-layer metrics from a traced half of the run and
writes the spans to .bench_build/traces/.

Extra flags for the smoke test (perfbench/smoke_test.py): --scale tiny
shrinks every workload; --corrupt expected|generator falsifies one
expected slate row count or one generator total, so the checks must fail.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH = "perfbench"
BUILD = ".bench_build"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join("src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "src")]
    for root in roots:
        if os.path.isfile(root):
            yield root
        for d, _, files in sorted(os.walk(root)):
            for f in sorted(files):
                yield os.path.join(d, f)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the repository and the benchmark; returns the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == want:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.offline=true -Dsbt.override.build.repos=true "
                       "-Dsbt.server.autostart=false -Xmx2g " + env.get("SBT_OPTS", ""))
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    print(f"# perfbench build {time.time() - t0:.1f} s", file=sys.stderr)
    for name, text in ((cp_file, cps[-1]), (stamp_file, want)):
        with open(name + ".tmp", "w") as fh:
            fh.write(text)
        os.replace(name + ".tmp", name)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl", "slate_sample"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", choices=["none", "expected", "generator"], default="none")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "data")):
        if not os.path.exists(need):
            fail(f"{need} not found; run from the root of a zoomspark checkout")
    cp = build()

    cpus = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(BUILD, f"work-{os.getpid()}"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.abspath(os.path.join(BENCH, 'log4j2.properties'))}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--cpus", str(cpus), "--work", work, "--bench-dir", BENCH,
            "--scale", args.scale, "--corrupt", args.corrupt]
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)

    def stop(signum, frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    watchdog = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line:
                last = line
            if not line.startswith("{"):
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not last.startswith("{"):
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    print(last, flush=True)


if __name__ == "__main__":
    main()
