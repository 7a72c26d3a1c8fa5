#!/usr/bin/env python3
"""Tests of the benchmark's own code. Run from the repository root:

    python3 perfbench/selftest.py

Builds, runs the JVM-side tests (perfbench.SelfTest: generator determinism
across partition counts, span self-time and driver-only arithmetic, the
file-delta write amplification) and checks that BENCHMARK.json and
metrics.py name the same metrics. Exits non-zero on any failure.
"""
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def python_checks():
    failures = []
    bench = json.load(open("BENCHMARK.json"))
    if [(m["name"], m["unit"]) for m in bench["end_to_end"]] != metrics.END_TO_END:
        failures.append("BENCHMARK.json end_to_end differs from metrics.END_TO_END")
    if [(m["name"], m["unit"]) for m in bench["per_layer"]] != metrics.PER_LAYER:
        failures.append("BENCHMARK.json per_layer differs from metrics.PER_LAYER")
    if [w["name"] for w in bench["workloads"]] != metrics.WORKLOADS:
        failures.append("BENCHMARK.json workloads differ from metrics.WORKLOADS")
    if len(metrics.PER_LAYER) > 128:
        failures.append("more than 128 per-layer metrics")
    names = [n for n, _ in metrics.END_TO_END + metrics.PER_LAYER]
    if len(names) != len(set(names)) or not all(
            re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names):
        failures.append("metric names must be unique, at most 64 letters, digits, _ . -")
    layers = metrics.derived_layers({
        "batch_rows": 2000.0,
        "streaming.StreamDedup.mergeBatchIntoSnapshot.output_records": 30000.0})
    if layers["rows_rewritten_per_batch_row"] != 15.0:
        failures.append("rows_rewritten_per_batch_row is not rows written per batch row")
    for f in failures:
        print(f"FAIL {f}")
    return failures


def main():
    failures = python_checks()
    cp = build.build()
    rc = subprocess.run([build.java()] + run.JVM_OPTS + ["-cp", cp, "perfbench.SelfTest"]).returncode
    return 1 if failures or rc else 0


if __name__ == "__main__":
    sys.exit(main())
