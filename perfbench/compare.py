#!/usr/bin/env python3
"""Paired comparison of two sets of benchmark runs.

Usage: python3 perfbench/compare.py A.jsonl B.jsonl

Each file holds runs saved by `perfbench/run.py --save FILE` (untraced
runs; traced ones are ignored). For each workload and each end-to-end
metric of BENCHMARK.json it prints both medians and quartiles, the share
of pairs B wins (runs are paired in the order they were saved; ties count
for neither side) and a verdict:

  better / worse   B's median is better / worse than A's by more than
                   A's own quartile spread, and B wins / loses at least
                   nine tenths of the pairs;
  same             the medians differ by less than the metric's bound;
  unresolved       the spread of either side exceeds the bound, unless
                   every run of B reads better (or worse) than every run
                   of A;
  regression       B is worse than A by more than the bound.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(path):
    runs = {}
    for line in Path(path).read_text().splitlines():
        if line.strip():
            r = json.loads(line)
            if not r.get("trace"):
                runs.setdefault(r["workload"], []).append(r["e2e"])
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, bound, lower_better):
    sign = 1 if lower_better else -1
    qa, qb = quartiles(a), quartiles(b)
    base = qa[1] or 1e-12
    change = sign * (qb[1] - qa[1]) / abs(base)   # > 0: B is worse
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    losses = sum(1 for x, y in pairs if sign * (y - x) > 0)
    spread = max((qa[2] - qa[0]) / abs(base), (qb[2] - qb[0]) / abs(qb[1] or 1e-12))
    all_better = max(sign * y for y in b) < min(sign * x for x in a)
    all_worse = min(sign * y for y in b) > max(sign * x for x in a)
    n = len(pairs) or 1
    if spread > bound and not (all_better or all_worse):
        v = "unresolved"
    elif change > bound:
        v = "regression"
    elif -change > (qa[2] - qa[0]) / abs(base) and wins >= 0.9 * n:
        v = "better"
    elif change > (qa[2] - qa[0]) / abs(base) and losses >= 0.9 * n:
        v = "worse"
    else:
        v = "same"
    return qa, qb, wins / n, change, spread, v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    a, b = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':16} {'metric':22} {'A q1/med/q3':>30} {'B q1/med/q3':>30} "
          f"{'B wins':>7} {'change':>8} {'spread':>7}  verdict")
    for w in sorted(set(a) & set(b)):
        for m in bench["end_to_end"]:
            k = m["name"]
            xa, xb = [r[k] for r in a[w]], [r[k] for r in b[w]]
            qa, qb, won, change, spread, v = verdict(
                xa, xb, m["bound"], m["better"] == "lower")
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{w:16} {k:22} {fa:>30} {fb:>30} {won:7.0%} {change:+8.1%} "
                  f"{spread:7.1%}  {v}")


if __name__ == "__main__":
    main()
