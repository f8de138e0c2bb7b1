#!/usr/bin/env python3
"""Compare two graft bench_out.json artifacts query by query.

Usage: bench_compare.py BEFORE.json AFTER.json [--md]

Prints, for every query both runs share, the min-of-N seconds (before,
after, delta, ratio) sorted by delta, with the per-query medians
(`queries_median`) next to the mins when the artifacts carry them; then
the shared-row sums, each side's total with its `load` and `load_ok`,
and the queries only one side ran. `--md` prints the table as markdown.

A row is marked `*` when both sides carry its median and its min delta
is larger than each side's own min-to-median spread: a move the runs'
own noise does not cover. The number of marked rows follows the sums.
"""
import json
import sys


def main() -> None:
    before = json.load(open(sys.argv[1]))
    after = json.load(open(sys.argv[2]))
    md = "--md" in sys.argv
    qb, qa = before.get("queries", {}), after.get("queries", {})
    mb, ma = before.get("queries_median", {}), after.get("queries_median", {})
    shared = sorted(set(qb) & set(qa), key=lambda k: qa[k] - qb[k])

    def med(m, k):
        return f"{m[k]:.2f}" if k in m else "-"

    def marked(k):
        if k not in mb or k not in ma:
            return False
        d = abs(qa[k] - qb[k])
        return d > mb[k] - qb[k] and d > ma[k] - qa[k]

    if md:
        print("| query | before s | after s | delta s | ratio | before med | after med | mark |")
        print("|---|---|---|---|---|---|---|---|")
        fmt = "| {k} | {b:.2f} | {a:.2f} | {d:+.2f} | {r:.2f}x | {mb} | {ma} | {f} |"
    else:
        print(f"{'query':38s} {'before':>8s} {'after':>8s} {'delta':>8s} {'ratio':>7s} "
              f"{'med_b':>7s} {'med_a':>7s}")
        fmt = "{k:38s} {b:8.2f} {a:8.2f} {d:+8.2f} {r:6.2f}x {mb:>7s} {ma:>7s} {f}"
    for k in shared:
        b, a = qb[k], qa[k]
        print(fmt.format(k=k, b=b, a=a, d=a - b, r=a / b if b else float("inf"),
                         mb=med(mb, k), ma=med(ma, k), f="*" if marked(k) else "").rstrip())
    print()
    sb = sum(qb[k] for k in shared)
    sa = sum(qa[k] for k in shared)
    pct = f" ({(sa / sb - 1) * 100:+.1f}%)" if sb else ""
    print(f"shared rows: {len(shared)}  before sum {sb:.1f}s  after sum {sa:.1f}s  "
          f"delta {sa - sb:+.1f}s{pct}")
    with_med = sum(1 for k in shared if k in mb and k in ma)
    print(f"marked rows (min delta > both sides' min-to-median spread): "
          f"{sum(map(marked, shared))} of {with_med} with medians")
    for side, run in (("before", before), ("after", after)):
        print(f"{side}: total {run.get('value')}s ({len(run.get('queries', {}))} rows, "
              f"load={run.get('load')}, load_ok={run.get('load_ok')})")
    if set(qa) - set(qb):
        print("new:", {k: round(qa[k], 2) for k in sorted(set(qa) - set(qb))})
    if set(qb) - set(qa):
        print("removed:", sorted(set(qb) - set(qa)))


if __name__ == "__main__":
    main()
