#!/usr/bin/env python3
"""Median and quartiles of every metric across the recorded runs.

Usage: python3 perfbench/summarize.py [record.json ...]

Without arguments it reads every record in perfbench/results/. Records
are grouped by workload and trace mode; for each metric it prints the
number of runs, the median, the first and third quartiles and the spread
(Q3 - Q1) / median, and writes the same to perfbench/results/summary.json.
"""
import glob
import json
import os
import sys

from run import quartiles

RESULTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results")


def main():
    paths = sys.argv[1:] or sorted(
        p for p in glob.glob(os.path.join(RESULTS, "*.json"))
        if not p.endswith("summary.json"))
    groups = {}
    for p in paths:
        r = json.load(open(p))
        key = f"{r['workload']} trace={r['trace']}"
        for name, m in r["metrics"].items():
            groups.setdefault(key, {}).setdefault(name, []).append(m["value"])
    summary = {}
    for key, metrics in sorted(groups.items()):
        print(key)
        for name, xs in sorted(metrics.items()):
            q = quartiles(xs)
            q1, med, q3 = q["q1"], q["median"], q["q3"]
            spread = (q3 - q1) / med if med else float("nan")
            summary.setdefault(key, {})[name] = {
                "n": len(xs), "median": med, "q1": q1, "q3": q3,
                "spread": spread}
            print(f"  {name:40s} n={len(xs):3d} median={med:12.5g} "
                  f"q1={q1:12.5g} q3={q3:12.5g} spread={spread:.3f}")
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
