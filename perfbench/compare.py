#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE NEW [--benchmark BENCHMARK.json]

BASE and NEW are directories of run records as perfbench/run.py writes them
to perfbench/results/ (one <workload>-s<seed>-t<trace>-....json per run);
copy the results of each commit to its own directory first. For every
workload and end-to-end metric it prints both sides' median and quartiles
over the untraced runs and flags a move beyond the metric's bound in
BENCHMARK.json. A metric whose own spread (quartile distance over median)
exceeds the bound on either side is reported as unresolved, never as a
change. Contended runs are counted per side. Then, per workload, it diffs
the medians of every per-layer metric over the traced runs, largest
relative move first, and the named wall-clock metrics with their sample
counts.
"""

import argparse
import glob
import json
import os
import statistics
import sys


def load(d):
    recs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        if f.endswith(".trace.json"):
            continue
        with open(f) as fh:
            recs.append(json.load(fh))
    if not recs:
        sys.exit(f"compare: no run records in {d}")
    return recs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def collect(recs, workload, trace, key):
    out = {}
    for r in recs:
        if r["workload"] == workload and r["trace"] == trace:
            for k, m in r[key].items():
                out.setdefault(k, []).append(m["value"])
    return out


def contended(recs, workload):
    rs = [r for r in recs if r["workload"] == workload and r["trace"] == 0]
    n = sum(1 for r in rs if r.get("contention", {}).get("label") == "contended")
    return n, len(rs)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    args = ap.parse_args()
    with open(args.benchmark) as fh:
        spec = json.load(fh)
    base, new = load(args.base), load(args.new)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    workloads = sorted({r["workload"] for r in base + new})
    regressions = 0

    for w in workloads:
        cb, nb = contended(base, w)
        cn, nn = contended(new, w)
        print(f"== {w}: base {nb} runs ({cb} contended), new {nn} runs ({cn} contended)")
        bv, nv = collect(base, w, 0, "end_to_end"), collect(new, w, 0, "end_to_end")
        print(f"  {'metric':20s} {'base q1/med/q3':>32s} {'new q1/med/q3':>32s} {'change':>8s}  verdict")
        for name, m in e2e.items():
            if name not in bv or name not in nv:
                print(f"  {name:20s} missing on one side")
                continue
            b, n = quartiles(bv[name]), quartiles(nv[name])
            worse = (n[1] / b[1] - 1) * (1 if m["better"] == "lower" else -1)
            spread = max((b[2] - b[0]) / b[1], (n[2] - n[0]) / n[1])
            if worse > m["bound"]:
                verdict = "REGRESSION" if spread <= m["bound"] else "unresolved (spread)"
                regressions += verdict == "REGRESSION"
            elif -worse > m["bound"]:
                verdict = "better" if spread <= m["bound"] else "unresolved (spread)"
            else:
                verdict = "within bound"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"  {name:20s} {fmt(b):>32s} {fmt(n):>32s} {100 * worse:+7.1f}%  {verdict}"
                  f" (bound {100 * m['bound']:.0f}%, worse is +)")
        bl, nl = collect(base, w, 1, "per_layer"), collect(new, w, 1, "per_layer")
        rows = []
        for k in sorted(set(bl) & set(nl)):
            b, n = statistics.median(bl[k]), statistics.median(nl[k])
            rel = (n / b - 1) if b else (0.0 if n == 0 else float("inf"))
            rows.append((k, b, n, rel))
        if rows:
            print(f"  per-layer medians from {len(next(iter(bl.values())))} vs "
                  f"{len(next(iter(nl.values())))} traced runs (largest moves first):")
            for k, b, n, rel in sorted(rows, key=lambda r: -abs(r[3])):
                sign = "" if better.get(k) != "higher" else " (higher is better)"
                print(f"    {k:34s} {b:14.5g} -> {n:14.5g}  {100 * rel:+8.1f}%{sign}")
        for side, recs in (("base", base), ("new", new)):
            named = {}
            for r in recs:
                if r["workload"] == w and r["trace"] == 0:
                    for k, m in r["named"].items():
                        named.setdefault(k, []).append(m)
            for k, ms in named.items():
                print(f"  {side:4s} {k:26s} median {statistics.median(m['value'] for m in ms):12.5g} "
                      f"{ms[0]['unit']:9s} samples/run {statistics.median(m['samples'] for m in ms):g}")
    sys.exit(1 if regressions else 0)


if __name__ == "__main__":
    main()
