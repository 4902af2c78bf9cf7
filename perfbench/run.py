#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result JSON.

Usage, from the repository root:

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck

The first call in a checkout compiles the engine's sources with the harness
(`perfbench/build.sbt`, needs `sbt` and `SPARK_HOME`); later calls reuse the
classes under `.bench_build/`. Each run starts a fresh JVM, generates its
dataset, runs the workload and prints a context line and, last, one result
line: {"correct", "attempted", "failed", "metrics"}.

`--selfcheck` runs every workload for a few ops on a tiny dataset, traced and
untraced, and fails if a metric named in BENCHMARK.json is missing or has
another unit, or if an op's output check did not run.
"""
import argparse
import fcntl
import hashlib
import json
import os
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
WORKLOADS = ("sql_mix", "etl_rw", "curate_10x")
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine plus harness unless the classes match the sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine's sources (src/main/scala) are not in this directory")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    os.makedirs(BUILD, exist_ok=True)
    stamp_path = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = sources_digest()
        if os.path.exists(stamp_path) and open(stamp_path).read() == digest:
            return
        env = dict(os.environ, COURSIER_MODE="offline")
        r = subprocess.run(["sbt", "-batch", "-Dsbt.offline=true", "compile"], cwd=HERE,
                           env=env, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            fail("build failed")
        with open(stamp_path, "w") as f:
            f.write(digest)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(workload, seed, seconds, trace, mode, t0):
    """Runs one workload in a fresh JVM; returns (context, result) dicts."""
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{jars}", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--mode", mode,
            "--work", os.path.join(BUILD, "work"), "--expected", os.path.join(HERE, "expected"),
            "--t0-ms", str(int(t0 * 1000))]
    env = dict(os.environ, PERFBENCH_COMMIT=commit())
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        fail(f"{workload} exited with code {proc.returncode} and no result")
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


def selfcheck():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            _, res = run_jvm(w["name"], 1, 0, trace, "selfcheck", time.time())
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w['name']} trace={int(trace)}: an op failed or was not checked")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or got.get("value") is None:
                    problems.append(f"{w['name']} trace={int(trace)}: metric {m['name']} "
                                    f"missing, null or not in {m['unit']}: {got}")
    for p in problems:
        print(p, file=sys.stderr)
    print(json.dumps({"selfcheck": "fail" if problems else "ok", "problems": len(problems)}))
    sys.exit(1 if problems else 0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="write the run's output digests to .bench_build/work/<workload>.tsv")
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    build()
    if args.selfcheck:
        selfcheck()
    if not args.workload:
        fail("--workload is required")
    # set-up time counts from here: the one-time compile above is excluded
    t0 = time.time()
    ctx, res = run_jvm(args.workload, args.seed, args.seconds, bool(args.trace),
                       "pin" if args.pin else "run", t0)
    print(json.dumps({"context": ctx}))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
