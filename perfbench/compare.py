#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE CHANGE

BASE and CHANGE are results.jsonl files written by perfbench/run.py (or
directories holding one). For each workload and metric, prints each side's
median and quartiles, the change in the median, and how many pairs the
change wins. Runs pair up by seed when both sides ran the same seeds, and
otherwise in the order they ran; ties count for neither side.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "results.jsonl")
    runs = []
    with open(path) as f:
        for line in f:
            if line.strip():
                runs.append(json.loads(line))
    return runs


def better_of():
    """metric name -> "higher" or "lower", from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def series(runs):
    """(workload, trace) -> metric -> [(seed, value)] in run order."""
    out = {}
    for r in runs:
        key = (r["workload"], r["trace"])
        for name, m in r["result"]["metrics"].items():
            out.setdefault(key, {}).setdefault(name, []).append((r["seed"], m["value"]))
    return out


def pairs(a, b):
    seeds_a = [s for s, _ in a]
    seeds_b = [s for s, _ in b]
    if len(set(seeds_a)) == len(seeds_a) and set(seeds_a) == set(seeds_b):
        vb = dict(b)
        return [(v, vb[s]) for s, v in a]
    return list(zip([v for _, v in a], [v for _, v in b]))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    better = better_of()
    base, change = series(load(sys.argv[1])), series(load(sys.argv[2]))
    fmt = "%-14s %-2s %-30s %12s %12s %12s | %12s %12s %12s | %8s %7s"
    print(fmt % ("workload", "tr", "metric", "base q1", "median", "q3",
                 "change q1", "median", "q3", "delta", "wins"))
    for key in sorted(set(base) & set(change)):
        for name in sorted(set(base[key]) & set(change[key])):
            a, b = base[key][name], change[key][name]
            qa, qb = quartiles([v for _, v in a]), quartiles([v for _, v in b])
            ps = pairs(a, b)
            sign = -1 if better.get(name) == "lower" else 1
            wins = sum(1 for x, y in ps if (y - x) * sign > 0)
            delta = "%+.1f%%" % (100 * (qb[1] - qa[1]) / qa[1]) if qa[1] else "n/a"
            print(fmt % (key[0], key[1], name,
                         "%.4g" % qa[0], "%.4g" % qa[1], "%.4g" % qa[2],
                         "%.4g" % qb[0], "%.4g" % qb[1], "%.4g" % qb[2],
                         delta, "%d/%d" % (wins, len(ps))))


if __name__ == "__main__":
    main()
