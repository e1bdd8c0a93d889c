#!/usr/bin/env python3
"""Fast self-test of the benchmark on sf0.001-sized inputs.

Usage (from the repository root):

    python3 perfbench/selftest.py [workload ...]

By default it covers BENCHMARK.json's workloads and `ingest`. For each
workload it makes two one-second runs with --tiny:
  1. untraced: the result is correct, nothing failed, and the metrics are
     exactly BENCHMARK.json's end_to_end names, each a positive number
     with its declared unit;
  2. traced with --corrupt (every result is damaged before its check):
     the metrics are exactly the per_layer names with their units, and the
     run reports correct = false with failed operations.
Exits non-zero on the first violation.
"""
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, corrupt):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", trace, "--tiny"] + (["--corrupt"] if corrupt else [])
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"selftest: {workload} trace={trace} exited {p.returncode}")
    return json.loads(lines[-1])


def expect(cond, msg):
    if not cond:
        sys.exit(f"selftest: {msg}")


def check_metrics(workload, result, declared, positive):
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    expect(set(got) == set(want),
           f"{workload}: metric names differ: missing "
           f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        expect(m["unit"] == want[name],
               f"{workload}: {name} unit {m['unit']} != {want[name]}")
        expect(isinstance(m["value"], (int, float)),
               f"{workload}: {name} is not a number")
        if positive:
            expect(m["value"] > 0, f"{workload}: {name} is {m['value']}")


def main():
    workloads = sys.argv[1:] or \
        [w["name"] for w in SPEC["workloads"]] + ["ingest"]
    for w in workloads:
        r = run(w, "0", corrupt=False)
        expect(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
               f"{w}: clean run not correct: {r}")
        check_metrics(w, r, SPEC["end_to_end"], positive=True)
        r = run(w, "1", corrupt=True)
        expect(not r["correct"] and r["failed"] > 0,
               f"{w}: corrupted results passed their checks")
        check_metrics(w, r, SPEC["per_layer"], positive=False)
        print(f"selftest: {w} ok ({r['failed']}/{r['attempted']} corrupted "
              "operations caught)")


if __name__ == "__main__":
    main()
