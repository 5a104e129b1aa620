#!/usr/bin/env python3
"""Summarise repeated benchmark runs.

Reads result records (the JSON lines run.py appends to
perfbench/.work/results.jsonl, or files of such records given as
arguments) and prints, per workload, trace mode and
metric: the run count, median, first and third quartiles, and the spread
(quartile distance over the median) next to the metric's bound from
BENCHMARK.json. With --split N the records of each workload are cut into
a first set of N runs and a second set, and the second median's change
against the first is printed too: the two-set agreement check.

Usage: python3 perfbench/summarize.py [--split N] [--workload W] [files...]
"""
import argparse
import json
import os
import statistics
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(paths):
    recs = []
    for p in paths:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                recs.append(json.loads(line))
    return recs


def stats(values):
    if len(values) < 2:
        v = values[0]
        return v, v, v, 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--split", type=int, default=0)
    ap.add_argument("--workload")
    ap.add_argument("files", nargs="*")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    recs = load(a.files or [os.path.join(HERE, ".work", "results.jsonl")])

    groups = defaultdict(list)
    for r in recs:
        if a.workload and r["workload"] != a.workload:
            continue
        groups[(r["workload"], r["trace"])].append(r)
    ok = True
    for (wl, trace), rs in sorted(groups.items()):
        bad = sum(1 for r in rs if not r["result"]["correct"])
        print(f"== {wl} trace={trace}: {len(rs)} runs, seeds "
              f"{sorted({r['seed'] for r in rs}, key=str)}, {bad} incorrect")
        ok &= bad == 0
        names = list(rs[0]["result"]["metrics"])
        for m in names:
            vals = [r["result"]["metrics"][m]["value"] for r in rs if m in r["result"]["metrics"]]
            med, q1, q3, spread = stats(vals)
            b = bounds.get(m) if not trace else None
            line = (f"  {m:34s} n={len(vals):2d} median={med:12.4f} q1={q1:12.4f} "
                    f"q3={q3:12.4f} spread={spread:6.3f}")
            if b is not None:
                flag = "ok" if spread <= b / 3 or m == "setup_s" else "WIDE"
                line += f" bound={b} [{flag}]"
                if m != "setup_s":
                    ok &= spread <= b
            if a.split and len(vals) > a.split:
                m1 = statistics.median(vals[:a.split])
                m2 = statistics.median(vals[a.split:])
                change = (m2 - m1) / m1 if m1 else 0.0
                line += f" set2/set1={change:+.3f}"
                if b is not None:
                    ok &= abs(change) <= b
            print(line)
    print("steady" if ok else "NOT steady")


if __name__ == "__main__":
    main()
