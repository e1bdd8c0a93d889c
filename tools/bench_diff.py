#!/usr/bin/env python3
"""Per-query regression diff between two Bench JSON lines.

Usage: python3 tools/bench_diff.py OLD.json NEW.json [ratio] [--norm]

Flags queries slower than `ratio` (default 1.3) in the newer file and
prints the largest movers both ways. A -1 value (failed query) is
always flagged.

Knob-aware (round 12, VERDICT r11 #6): artifacts carry the GateKnobs
they ran with, and a timing only measures the same work when the knobs
match. On a mismatch this tool EXCLUDES the queries parameterized by
each differing knob (printing what it dropped) instead of refusing or
silently diffing incomparable numbers — so a driver-default artifact
(range_window_us=3e8, emb_mod=1) and a gate-matrix artifact (3e7, 4)
diff cleanly over the 100+ queries the knobs don't touch. An
`init_parts` mismatch shifts every exchange-bearing query, so it only
warns. Artifacts without a knobs field (the driver's compact stdout
line) are treated as unknown and diffed as-is, with a warning.

Jobs: when both artifacts carry Bench's "build_jobs" map (Spark jobs
started while each query's DataFrame was built, last sweep) or its
"run_jobs" map (jobs started while it executed), the per-query delta is
printed for every query whose count moved — a job moved from build time
to run time shows in both.

--norm (VERDICT r11 #2): divide each per-query ratio by the MEDIAN
ratio over all compared queries — the host factor. The shared host's
speed swings between sessions move ALL queries by a common factor,
while a real fix/regression moves a handful, so the median is the host
and the outliers are the signal (same estimator as host_factor.py, now
in the regression gate itself). The printed totals stay raw.
"""
import json
import re
import sys

# Queries whose WORK is parameterized by each gate knob (GateKnobs.scala):
# a mismatch there means the two timings measure different queries.
KNOB_QUERIES = {
    "range_window_us": ["q39_range_join", "q76_range_count"],
    "emb_mod": ["q74_semantic_dedup"],
    "jaccard_t": ["q23_ngram_jaccard"],
    "jaccard_maxdf": ["q23_ngram_jaccard"],
}


def load(path):
    """Accept either a bare Bench line or the driver's BENCH_r{N}.json
    wrapper (bench line embedded, escaped, in a "tail" field)."""
    with open(path) as f:
        text = f.read()
    doc = json.loads(text)
    if "queries" in doc:
        return doc
    embedded = doc.get("tail", text)
    m = re.search(r'\{"metric":.*?"queries":\{.*?\}.*?\}', embedded)
    if not m:
        raise SystemExit(f"{path}: no bench line found")
    return json.loads(m.group(0).encode().decode("unicode_escape")
                      if "\\\"" in m.group(0) else m.group(0))


def knob_excludes(old, new):
    """Queries to drop because differing knobs change their work."""
    ok, nk = old.get("knobs"), new.get("knobs")
    if ok is None or nk is None:
        print("note: knobs missing from one artifact — diffing as-is "
              "(q39/q76/q74/q23 may be incomparable)")
        return set()
    drop = set()
    for knob in sorted(set(ok) | set(nk)):
        if ok.get(knob) == nk.get(knob):
            continue
        qs = KNOB_QUERIES.get(knob)
        if qs is None:
            print(f"warning: knob {knob} differs "
                  f"({ok.get(knob)} vs {nk.get(knob)}) — shifts all "
                  "exchange-bearing queries; totals not comparable")
        else:
            drop.update(qs)
            print(f"knob {knob} differs ({ok.get(knob)} vs "
                  f"{nk.get(knob)}): excluding {', '.join(qs)}")
    return drop


def main():
    args = [a for a in sys.argv[1:] if a != "--norm"]
    norm = "--norm" in sys.argv[1:]
    old, new = load(args[0]), load(args[1])
    bar = float(args[2]) if len(args) > 2 else 1.3
    oq, nq = old["queries"], new["queries"]
    drop = knob_excludes(old, new)
    rows = []
    added, removed = [], []
    for name in sorted(set(oq) | set(nq)):
        if name in drop:
            continue
        a, b = oq.get(name), nq.get(name)
        if a is None:
            added.append(name)
        elif b is None:
            removed.append(name)
        elif b < 0:
            rows.append((float("inf"), name, a, b, "FAILED"))
        elif a > 0:
            rows.append((b / a, name, a, b, ""))
    factor = 1.0
    if norm:
        finite = sorted(r[0] for r in rows if r[0] != float("inf"))
        if finite:
            factor = finite[len(finite) // 2]
        print(f"host factor (median new/old over {len(finite)} queries): "
              f"{factor:.3f}x — ratios below are normalized by it")
        rows = [(r / factor if r != float("inf") else r, n, a, b, note)
                for r, n, a, b, note in rows]
    regressions = [r for r in rows if r[0] > bar]
    print(f"total: {old.get('value', 0):.1f}s -> {new.get('value', 0):.1f}s"
          + (f" (raw; host factor {factor:.3f}x)" if norm else ""))
    if added:
        print(f"added: {', '.join(added)}")
    if removed:
        print(f"REMOVED: {', '.join(removed)}")
    if regressions:
        print(f"REGRESSIONS (> {bar}x{' normalized' if norm else ''}):")
        for ratio, name, a, b, note in sorted(regressions, reverse=True):
            print(f"  {name:32s} {a:7.2f}s -> {b:7.2f}s  "
                  f"{'' if note else f'{ratio:.2f}x'}{note}")
    else:
        print(f"no regressions > {bar}x{' normalized' if norm else ''}")
    improved = sorted(r for r in rows if r[0] < 1 / bar)
    if improved:
        print("improvements:")
        for ratio, name, a, b, _ in improved:
            print(f"  {name:32s} {a:7.2f}s -> {b:7.2f}s  {ratio:.2f}x")
    jobs_delta(old, new, "build_jobs")
    jobs_delta(old, new, "run_jobs")
    sys.exit(1 if regressions else 0)


def jobs_delta(old, new, key):
    """Per-query change in one jobs map; silent unless both have it."""
    ob, nb = old.get(key), new.get(key)
    if ob is None or nb is None:
        return
    common = sorted(set(ob) & set(nb))
    moved = [(n, ob[n], nb[n]) for n in common if ob[n] != nb[n]]
    print(f"{key}: {sum(ob[n] for n in common)} -> "
          f"{sum(nb[n] for n in common)} over {len(common)} queries; "
          f"zero-job queries {sum(ob[n] == 0 for n in common)} -> "
          f"{sum(nb[n] == 0 for n in common)}")
    for name, a, b in moved:
        print(f"  {name:32s} {a:4d} -> {b:4d}  ({b - a:+d})")


if __name__ == "__main__":
    main()
