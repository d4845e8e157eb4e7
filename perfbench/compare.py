#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload and end-to-end metric.

Usage: python3 perfbench/compare.py <set A dir> <set B dir>

A set is a directory holding `record.json` files of untraced runs (any
depth; run.py writes one per run under .bench_build/runs/). Runs of the
two sets are paired by seed. For each metric the tool prints both sets'
median and quartiles, how many pairs B wins, and a verdict:

  gain        B wins at least 9/10 of the pairs (ties count for neither) and
              the medians differ by more than A's own quartile distance;
  regression  B's median is worse than A's by more than the metric's bound;
  unresolved  a set's quartile distance exceeds the bound, and B is not
              better in every run than A in every run;
  same        otherwise.
"""
import glob
import json
import os
import statistics
import sys


def load(d):
    runs = {}
    for p in glob.glob(os.path.join(d, "**", "record.json"), recursive=True):
        with open(p) as fh:
            r = json.load(fh)
        if r.get("trace") or not r.get("correct"):
            continue
        runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], q[1], q[2]


def verdict(a, b, pairs, better, bound):
    qa, qb = quartiles(a), quartiles(b)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    worse = sign * (qa[1] - qb[1]) / qa[1]   # > 0: B worse, as a share of A
    spread = max((qa[2] - qa[0]) / qa[1], (qb[2] - qb[0]) / qb[1])
    b_all_better = all(sign * (y - x) > 0 for x in a for y in b)
    if spread > bound and not b_all_better:
        v = "unresolved"
    elif pairs and wins >= 0.9 * len(pairs) and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
        v = "gain"
    elif worse > bound:
        v = "regression"
    else:
        v = "same"
    return qa, qb, wins, v


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    A, B = load(argv[1]), load(argv[2])
    print(f"{'workload':16} {'metric':14} {'A q1/med/q3':>28} {'B q1/med/q3':>28} "
          f"{'B wins':>7} verdict")
    for w in sorted(set(A) | set(B)):
        ra, rb = A.get(w, []), B.get(w, [])
        if not ra or not rb:
            print(f"{w:16} (runs missing in one set)")
            continue
        by_seed = {r["seed"]: r for r in ra}
        for m in spec["end_to_end"]:
            name = m["name"]
            a = [r["end_to_end"][name][0] for r in ra]
            b = [r["end_to_end"][name][0] for r in rb]
            pairs = [(by_seed[r["seed"]]["end_to_end"][name][0], r["end_to_end"][name][0])
                     for r in rb if r["seed"] in by_seed]
            qa, qb, wins, v = verdict(a, b, pairs, m["better"], m["bound"])
            fa = "/".join(f"{x:.4g}" for x in qa)
            fb = "/".join(f"{x:.4g}" for x in qb)
            print(f"{w:16} {name:14} {fa:>28} {fb:>28} {wins:>3}/{len(pairs):<3} {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
