#!/usr/bin/env python3
"""Compares two sets of benchmark runs, for example a parent commit (A) and
a change (B).

    python3 perfbench/compare.py runs/parent runs/change

Each directory holds one file per run, named <workload>-<anything>.json,
whose last line is the JSON object perfbench/run.py prints. Runs of a
workload are paired in file-name order, so name them by seed. For every
workload and metric it prints each side's median and quartiles, the share
of pairs B wins, and a verdict by the rules below; for the end-to-end
metrics the bound comes from BENCHMARK.json:

  unresolved  a side's spread (quartile distance / median) exceeds the
              bound, and not every B run beats (or loses to) every A run
  worse       B's median is worse than A's by more than the bound
  better      B wins at least 9 in 10 pairs and the medians differ by more
              than A's quartile distance
  same        otherwise
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    runs = {}
    for name in sorted(os.listdir(d)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(d, name)) as fh:
            lines = [l for l in fh.read().splitlines() if l.strip()]
        runs.setdefault(name.split("-")[0], []).append(json.loads(lines[-1]))
    return runs


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def verdict(a, b, better, bound):
    q1a, ma, q3a = quartiles(a)
    q1b, mb, q3b = quartiles(b)
    sign = 1 if better == "higher" else -1
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    if bound is None:
        return wins, len(pairs), "-"
    spread = max((q3a - q1a) / ma if ma else 0, (q3b - q1b) / mb if mb else 0)
    all_better = all(sign * (y - x) > 0 for x in a for y in b)
    all_worse = all(sign * (y - x) < 0 for x in a for y in b)
    if spread > bound and not (all_better or all_worse):
        v = "unresolved"
    elif sign * (mb - ma) < -bound * abs(ma) or (spread > bound and all_worse):
        v = "worse"
    elif (wins >= 0.9 * len(pairs) and abs(mb - ma) > (q3a - q1a)) or (spread > bound and all_better):
        v = "better"
    else:
        v = "same"
    return wins, len(pairs), v


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    a_runs, b_runs = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(a_runs) & set(b_runs)):
        a, b = a_runs[w], b_runs[w]
        print("== %s: %d runs (A), %d runs (B)" % (w, len(a), len(b)))
        for side, runs in (("A", a), ("B", b)):
            shares = sorted({r["failed"] / r["attempted"] for r in runs})
            bad = sum(1 for r in runs if not r["correct"])
            print("   %s: failed share %s, incorrect runs %d" % (side, shares, bad))
        names = [n for n in a[0]["metrics"] if n in b[0]["metrics"]]
        print("   %-36s %12s %25s %12s %25s %8s %6s  %s" % (
            "metric", "A median", "A q1..q3", "B median", "B q1..q3", "change", "B wins", "verdict"))
        for n in names:
            va = [r["metrics"][n]["value"] for r in a]
            vb = [r["metrics"][n]["value"] for r in b]
            m = meta.get(n, {"better": "lower"})
            q1a, ma, q3a = quartiles(va)
            q1b, mb, q3b = quartiles(vb)
            wins, pairs, v = verdict(va, vb, m["better"], m.get("bound"))
            change = (mb - ma) / ma * 100 if ma else float("nan")
            print("   %-36s %12.5g %12.5g..%-12.5g %12.5g %12.5g..%-12.5g %7.1f%% %3d/%-3d %s" % (
                n, ma, q1a, q3a, mb, q1b, q3b, change, wins, pairs, v))


if __name__ == "__main__":
    main()
