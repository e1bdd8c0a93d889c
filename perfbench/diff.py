#!/usr/bin/env python3
"""Per-layer diff of two sets of benchmark artifacts.

Usage (from the repository root):

    python3 perfbench/diff.py BASE NEW [--layer-bound 0.25] [--json]

BASE and NEW are artifact files or directories of them (the JSON files
run.py writes under perfbench/out). Runs are grouped by workload; untraced
runs give the end-to-end metrics, traced runs the per-layer ones. For each
workload and metric the diff prints the base median, the new median and
their ratio. A ratio is "unresolved" when the run-to-run spread
(interquartile range over median, the larger of the two sets) exceeds the
metric's bound (BENCHMARK.json's for end-to-end metrics, --layer-bound for
per-layer ones) or is at least as large as the change itself.

It also prints, per set, the tracing overhead (traced over untraced
end-to-end medians), and ranks the per-layer self-time changes so a claimed
saving can be traced to the layer that moved.
"""
import argparse
import glob
import json
import os
import statistics
import sys

# Per-layer metrics that are span self times: per operation they sum to the
# operation's wall time, so their changes account for a wall-time change.
SELF_TIME = ["queries.build_ms", "testqueries.build_ms", "catalyst.plan_ms",
             "spark.exec_ms", "ingest.read_ms", "ingest.cluster_ms",
             "ingest.regroup_build_ms", "lake.append_ms.observations",
             "lake.append_ms.code_implementations", "lake.append_ms.tests",
             "lake.readback_ms", "trace.unattributed_ms"]


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) \
        if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        if "workload" in a and not a.get("tiny") and not a.get("corrupt"):
            runs.append(a)
    return runs


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q[2] - q[0]) / m if m else 0.0


def series(runs, workload, trace, section):
    out = {}
    for a in runs:
        if a["workload"] == workload and a["trace"] == trace:
            for name, m in a[section].items():
                out.setdefault(name, []).append(m["value"])
    return out


def compare(base, new, bounds, default_bound):
    rows = []
    for name in sorted(set(base) | set(new)):
        b, n = base.get(name, []), new.get(name, [])
        mb, mn = median(b), median(n)
        s = max(spread(b), spread(n))
        bound = bounds.get(name, default_bound)
        ratio = mn / mb if mb else float("nan")
        change = abs(ratio - 1) if mb else float("inf")
        if not mb and not mn:
            verdict = "not exercised"
        elif bool(b and n) and s <= bound and change > s:
            verdict = "resolved"
        else:
            verdict = "unresolved"
        rows.append({"metric": name, "base": mb, "new": mn, "ratio": ratio,
                     "spread": s, "bound": bound, "runs": [len(b), len(n)],
                     "verdict": verdict})
    return rows


def overhead(runs, workload):
    plain = series(runs, workload, False, "end_to_end")
    traced = series(runs, workload, True, "end_to_end")
    return {k: median(traced[k]) / median(plain[k])
            for k in plain if k in traced and median(plain[k])}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--layer-bound", type=float, default=0.25)
    ap.add_argument("--json", action="store_true")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    base, new = load(a.base), load(a.new)
    if not base or not new:
        sys.exit("diff: no artifacts found")
    report = {}
    for w in sorted({r["workload"] for r in base + new}):
        e2e = compare(series(base, w, False, "end_to_end"),
                      series(new, w, False, "end_to_end"), bounds, 0.0)
        layers = compare(series(base, w, True, "per_layer"),
                         series(new, w, True, "per_layer"), {},
                         a.layer_bound)
        moved = sorted((r for r in layers if r["metric"] in SELF_TIME
                        and r["verdict"] != "not exercised"),
                       key=lambda r: -abs(r["new"] - r["base"]))
        report[w] = {"end_to_end": e2e, "per_layer": layers,
                     "self_ms_delta": [(r["metric"], r["new"] - r["base"])
                                       for r in moved],
                     "tracing_overhead": {"base": overhead(base, w),
                                          "new": overhead(new, w)}}
    if a.json:
        print(json.dumps(report, indent=1))
        return
    for w, r in report.items():
        print(f"== {w}")
        for row in r["end_to_end"] + r["per_layer"]:
            if row["verdict"] == "not exercised":
                continue
            print(f"  {row['metric']:38s} base {row['base']:12.4g}  "
                  f"new {row['new']:12.4g}  ratio {row['ratio']:7.3f}  "
                  f"spread {row['spread']:.3f}/{row['bound']:.2f}  "
                  f"{row['verdict']}  n={row['runs']}")
        print("  self-time change per operation (ms), largest first:")
        for name, d in r["self_ms_delta"]:
            print(f"    {name:38s} {d:+10.2f}")
        for side, o in r["tracing_overhead"].items():
            if o:
                print(f"  tracing overhead ({side}): " + ", ".join(
                    f"{k} x{v:.3f}" for k, v in sorted(o.items())))


if __name__ == "__main__":
    main()
