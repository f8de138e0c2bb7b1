#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py BEFORE_DIR AFTER_DIR

Run it from the repository root (it reads BENCHMARK.json there).
Each directory holds run records as `perfbench/run.py` leaves them in
`.bench_build/results/` (copy them aside between the two sides). For
every workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles over the untraced runs, the gain (the change
of the median, positive in the metric's better direction), the larger
side's spread (IQR / median) and a verdict:

  unresolved   either side's spread exceeds the bound, unless every
               after run beats (or loses to) every before run
  better       the after side wins at least 9 in 10 before/after pairs
               and its median moved by more than the before side's IQR
  worse        the after median is worse by more than the bound
  same         neither

Traced runs (`--trace 1`) of both sides are joined in: under each
workload it lists the per-layer metrics that moved most, so the output
says which layer a change landed in.
"""
import argparse
import glob
import itertools
import json
import os
import statistics
import sys

TOP_LAYERS = 8  # layer metrics listed per workload

def load(directory):
    runs = []
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if "end_to_end" in rec and "workload" in rec:
            runs.append(rec)
    if not runs:
        sys.exit(f"compare: no run records in {directory}")
    return runs


def quartiles(values):
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def verdict(before, after, bound, better):
    sign = 1.0 if better == "higher" else -1.0
    b1, bm, b3 = quartiles(before)
    a1, am, a3 = quartiles(after)
    spread = max((b3 - b1) / bm if bm else 0.0, (a3 - a1) / am if am else 0.0)
    gain = sign * (am - bm) / bm if bm else 0.0
    pairs = [sign * (a - b) for a, b in itertools.product(after, before)]
    wins = sum(p > 0 for p in pairs) / len(pairs)
    losses = sum(p < 0 for p in pairs) / len(pairs)
    if spread > bound and wins < 1.0 and losses < 1.0:
        return "unresolved", gain, spread
    if gain > 0 and wins >= 0.9 and abs(am - bm) > (b3 - b1):
        return "better", gain, spread
    if gain < -bound:
        return "worse", gain, spread
    return "same", gain, spread


def layer_moves(before, after, top):
    """Per-layer metrics whose median moved most between the traced runs."""
    names = set(before[0]["per_layer"]) & set(after[0]["per_layer"])
    moves = []
    for name in names:
        b = statistics.median(r["per_layer"][name] for r in before)
        a = statistics.median(r["per_layer"][name] for r in after)
        if b == a:
            continue
        rel = (a - b) / abs(b) if b else float("inf")
        moves.append((abs(rel), name, b, a, rel))
    moves.sort(reverse=True)
    return moves[:top]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    before, after = load(args.before), load(args.after)

    for wl in [w["name"] for w in spec["workloads"]]:
        b_runs = [r for r in before if r["workload"] == wl and not r["trace"]]
        a_runs = [r for r in after if r["workload"] == wl and not r["trace"]]
        print(f"== {wl}: {len(b_runs)} before / {len(a_runs)} after untraced runs")
        if b_runs and a_runs:
            print(f"  {'metric':<14} {'before q1/med/q3':>26} {'after q1/med/q3':>26} "
                  f"{'gain':>8} {'spread':>7} {'bound':>6}  verdict")
            for m in spec["end_to_end"]:
                bv = [r["end_to_end"][m["name"]] for r in b_runs]
                av = [r["end_to_end"][m["name"]] for r in a_runs]
                v, gain, spread = verdict(bv, av, m["bound"], m["better"])
                fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
                print(f"  {m['name']:<14} {fmt(quartiles(bv)):>26} {fmt(quartiles(av)):>26} "
                      f"{gain:+8.1%} {spread:7.1%} {m['bound']:6.0%}  {v}")
        b_tr = [r for r in before if r["workload"] == wl and r["trace"]]
        a_tr = [r for r in after if r["workload"] == wl and r["trace"]]
        if b_tr and a_tr:
            print(f"  layers that moved most ({len(b_tr)} / {len(a_tr)} traced runs):")
            for _, name, b, a, rel in layer_moves(b_tr, a_tr, TOP_LAYERS):
                print(f"    {name:<48} {b:>12.4g} -> {a:<12.4g} {rel:+.1%}")
        print()


if __name__ == "__main__":
    main()
