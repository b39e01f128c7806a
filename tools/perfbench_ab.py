#!/usr/bin/env python3
"""Parent/change A/B summary of perfbench runs.

Usage: python3 tools/perfbench_ab.py runs.txt [parent_side]

Each input line is `side seed <last line of perfbench/run.py>`, for
example `parent 9 {"correct": true, ...}`. The first side named (or
parent_side) is the base. Per metric it prints each side's median and
quartiles, and the pairs (same seed, one run per side) the other side
wins; ties count for neither. A gain is claimed, as in choosing-metrics
section 8, only when the other side wins at least nine tenths of all
pairs and the medians differ by more than the base's quartile spread.
Lower is better unless BENCHMARK.json says otherwise.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4, method="inclusive")
    return q1, q2, q3


def main(path, base=None):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    higher = {m["name"] for m in bench["end_to_end"] + bench["per_layer"]
              if m["better"] == "higher"}
    runs, sides = {}, []
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            side, seed, rec = line.split(None, 2)
            rec = json.loads(rec)
            if side not in sides:
                sides.append(side)
            if not rec["correct"]:
                print(f"note: {side} seed {seed} ran incorrect ({rec['failed']} failed)")
            runs.setdefault(side, {})[seed] = {k: v["value"] for k, v in rec["metrics"].items()}
    base = base or sides[0]
    other = next(s for s in sides if s != base)
    seeds = sorted(set(runs[base]) & set(runs[other]), key=int)
    print(f"{len(seeds)} pairs; base = {base}, change = {other}")
    print(f"{'metric':34} {base + ' q1/med/q3':>26} {other + ' q1/med/q3':>26}  wins  gain")
    for m in runs[base][seeds[0]]:
        a = [runs[base][s][m] for s in seeds]
        b = [runs[other][s][m] for s in seeds]
        sign = -1 if m in higher else 1
        wins = sum(1 for x, y in zip(a, b) if sign * (y - x) < 0)
        qa, qb = quartiles(a), quartiles(b)
        gain = wins >= 0.9 * len(seeds) and sign * (qa[1] - qb[1]) > qa[2] - qa[0]
        fa = "/".join(f"{x:.4g}" for x in qa)
        fb = "/".join(f"{x:.4g}" for x in qb)
        print(f"{m:34} {fa:>26} {fb:>26}  {wins:>2}/{len(seeds)}  {'yes' if gain else 'no'}")


if __name__ == "__main__":
    main(*sys.argv[1:3])
