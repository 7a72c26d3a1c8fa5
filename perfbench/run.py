#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload snapshot --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine and the benchmark are compiled
from source on first use (perfbench/build.py). The JVM (perfbench.Main)
generates the seeded input, sets up, runs the workload in a closed loop for
--seconds, checks its outputs and writes result.json; this script then runs
the DuckDB comparisons that result lists, prints every metric by name and
unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The exit code is non-zero when any output check fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 170
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                "java.base/java.lang.reflect", "java.base/java.io",
                "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic",
                "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                "java.base/sun.security.action", "java.base/sun.util.calendar"]
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def cpu_ticks():
    """Total and stolen CPU ticks of the host so far (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def run_jvm(cp, args, work, budget_s):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [build.java()] + JVM_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--cores", str(len(os.sched_getaffinity(0)))]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t0 = time.time()

    try:
        cp = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2

    work = os.path.abspath(os.path.join(
        build.BUILD_DIR, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        total0, steal0 = cpu_ticks()
        rc = run_jvm(cp, args, work, DEADLINE_S - (time.time() - t0))
        total1, steal1 = cpu_ticks()
        res_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            tail = open(os.path.join(work, "jvm.log")).read()[-4000:]
            log(f"benchmark JVM failed (exit {rc}); log tail:\n{tail}")
            return 3
        res = json.load(open(res_path))
        if args.trace and os.path.exists(os.path.join(work, "trace.json")):
            traces = os.path.join(build.BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(traces, f"{args.workload}-{args.seed}.json"))
        # host drift: CPU time the hypervisor gave to other tenants meanwhile
        res["info"]["host_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        report = metrics.report(res, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for line in report["lines"]:
        print(line)
    if report["result"] is None:
        return 3
    print(json.dumps(report["result"]))
    return 0 if report["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
