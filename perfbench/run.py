#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from this checkout.

Usage (from the repository root):

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

The first run compiles the engine and the benchmark with sbt (the engine's
own build at the root, the benchmark's build in this directory) and caches
the classpath under .bench_build/; later runs rebuild only when a source
file changed. Each run starts one JVM with an explicit heap, which runs the
workload at local[k] and prints a report. The last stdout line is one JSON
object with the keys correct, attempted, failed and metrics: the metrics
named in BENCHMARK.json's end_to_end list (--trace 0) or per_layer list
(--trace 1). See perfbench/README.md.
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
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "classpath.txt")
STAMP_FILE = os.path.join(BUILD_DIR, "stamp.txt")
WORK_ROOT = os.path.join(BUILD_DIR, "work")
TRACES_DIR = os.path.join(BUILD_DIR, "traces")

# Heap of the benchmark JVM: the workloads' working sets are a few hundred
# MiB, so 2 GiB leaves room for GC without tuning.
HEAP = "2g"
# Spark runs at local[K]. K = 2 is faster than 4 on a 4-vCPU machine: the
# Spark driver thread and the JIT compiler threads contend with task threads.
K = 2
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change requires a rebuild, in a stable order."""
    roots = [
        os.path.join(ROOT, "src", "main"),
        os.path.join(HERE, "src", "main"),
    ]
    files = [
        os.path.join(ROOT, "build.sbt"),
        os.path.join(ROOT, "project", "build.properties"),
        os.path.join(HERE, "build.sbt"),
        os.path.join(HERE, "project", "build.properties"),
    ]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    want = stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == want:
                with open(CLASSPATH_FILE) as fh2:
                    return fh2.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    sys.stderr.write(p.stdout)
    if p.returncode != 0:
        fail(f"sbt build failed with exit code {p.returncode}")
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(cps[-1])
    with open(STAMP_FILE, "w") as fh:
        fh.write(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1]


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(classpath, args, work):
    cores = max(1, min(K, os.cpu_count() or 1))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--traces", TRACES_DIR, "--cores", str(cores),
    ]
    # Engine dev knobs read from the environment would change what is
    # measured; every run sees the engine's defaults.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"workload did not finish within {RUN_TIMEOUT_S} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    for need in ["build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    names = declared_metrics(args.trace)
    classpath = build()

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        code, out = run_jvm(classpath, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if code != 0 or not lines:
        sys.stdout.write(out)
        fail(f"workload exited with code {code}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stdout.write(out)
        fail("workload printed no result line")
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        sys.stdout.write(out)
        fail(f"workload reported no value for {', '.join(missing)}")
    result["metrics"] = {n: result["metrics"][n] for n in names}
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
