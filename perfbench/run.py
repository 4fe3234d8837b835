#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source (an sbt build in this
directory; rebuilt only when a source file changed), runs one workload in
its own JVM at local[<cores>], and prints the result as the last line of
standard output. `--workload all` runs every workload in turn and prints
each one's named metrics with units and sample counts.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["build", "serve", "churn"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
JVM_FLAGS = ["-Xmx3g", "-XX:+UseParallelGC"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a fixed order."""
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout.
    Returns (exit code, stdout text) after the process has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        die(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build(digest):
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], BUILD_TIMEOUT_S,
                          cwd=BENCH, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0:
        die(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(digest)


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "none"


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_workload(workload, seed, seconds, trace, digest):
    """One JVM run; returns (detail dict, result dict)."""
    work = os.path.join(WORK, f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spark_home = os.environ.get("SPARK_HOME") or die("SPARK_HOME is not set")
    cp = CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*")
    cmd = (["java"] + [a for m in ADD_OPENS for a in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")]
           + JVM_FLAGS + ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                          "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", "1" if trace else "0", "--work", work])
    env = dict(os.environ, PERFBENCH_SOURCE_SHA256=digest, PERFBENCH_GIT_SHA=git_sha())
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
    finally:
        traces = [f for f in os.listdir(work) if f.startswith("trace-")] if os.path.isdir(work) else []
        for f in traces:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.move(os.path.join(work, f), os.path.join(WORK, "traces", f))
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or len(lines) < 2 or not lines[-2].startswith("PERFBENCH_DETAIL "):
        die(f"{workload} run failed (java exit {code})")
    detail = json.loads(lines[-2][len("PERFBENCH_DETAIL "):])
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result keys {sorted(result)}")
    if set(result["metrics"]) != expected_metrics(trace):
        die(f"metrics {sorted(result['metrics'])} do not match BENCHMARK.json")
    return detail, result


def print_named(workload, detail):
    print(f"{workload}: setup_s={statistics.median(detail['setup_s'])} s "
          f"(n={len(detail['setup_s'])})  failed_op_ratio={detail['failed_op_ratio']} "
          f"(base {detail['attempted']} ops)")
    for name, m in detail["named"].items():
        print(f"  {name} = {m['value']} {m['unit']} (n={m['n']})")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        die(f"engine sources not found at {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        die("BENCHMARK.json not found at the repository root")
    digest = source_digest()
    build(digest)
    if a.workload != "all":
        detail, result = run_workload(a.workload, a.seed, a.seconds, a.trace == 1, digest)
        print("PERFBENCH_DETAIL " + json.dumps(detail))
        print(json.dumps(result))
        return
    results = {}
    for w in WORKLOADS:
        detail, result = run_workload(w, a.seed, a.seconds, a.trace == 1, digest)
        print_named(w, detail)
        results[w] = result
    print(json.dumps(results))


if __name__ == "__main__":
    main()
