#!/usr/bin/env python3
"""Compare two graft.Bench JSON artifacts (dev tool): per-query warm-time
ratios on the common query set, plus totals and diagnostics, so a round-
over-round slowdown is attributable to specific queries (or to the host,
via the embedded loadavg/GC evidence).

Each side uses its full per-query maps (`queries_warm_all`, `queries_all`)
when the artifact has them and falls back to the top-N `queries_warm` /
`queries` lists otherwise. The common-query count is printed first: a
comparison over a handful of common queries says little about the suite.

usage: benchdiff.py <benchA.json> <benchB.json>"""
import sys, json

import re


def pick(d, full, top):
    """(key used, {query: seconds}) — the full map if present, else top-N.
    Stamped samples ({"w": wall, ...}) reduce to their wall."""
    for k in (full, top):
        if k in d:
            return k, {q: (v["w"] if isinstance(v, dict) else v)
                       for q, v in d[k].items()}
    return None, {}


def load(path):
    d = json.load(open(path))
    # driver-recorded artifact: the compact line is stored parsed, or only
    # as a (possibly head-truncated) 'tail' string
    d = d.get("parsed") or d
    if any(k in d for k in ("queries_warm_all", "queries_warm", "queries")):
        return d, pick(d, "queries_warm_all", "queries_warm"), \
            pick(d, "queries_all", "queries")
    tail = d.get("tail", "")
    m = re.search(r'"queries_warm":\{([^}]*)\}', tail)
    seg = m.group(1) if m else tail
    pairs = dict((k, float(v)) for k, v in
                 re.findall(r'"([a-z0-9_]+)":([0-9.]+)', seg))
    pairs.pop("sf", None)
    return d, ("queries_warm (scraped)", pairs), (None, {})


def totals(label, ka, qa, kb, qb):
    common = sorted(set(qa) & set(qb))
    print(f"{label}: {ka} vs {kb} — common queries: {len(common)}  "
          f"only-a: {len(set(qa) - set(qb))}  only-b: {len(set(qb) - set(qa))}")
    if common:
        sa = sum(qa[q] for q in common)
        sb = sum(qb[q] for q in common)
        print(f"  common totals: {sa:.1f}s vs {sb:.1f}s  ratio {sb / sa:.2f}x")
    return common


a, (kwa, qa), (kca, ca) = load(sys.argv[1])
b, (kwb, qb), (kcb, cb) = load(sys.argv[2])
print(f"a = {sys.argv[1]}\nb = {sys.argv[2]}")
common = totals("warm", kwa, qa, kwb, qb)
if ca and cb:
    totals("cold", kca, ca, kcb, cb)
if len(common) < 20:
    print(f"WARNING: only {len(common)} common queries — a top-N list, not the suite")
for src, d in ((sys.argv[1], a), (sys.argv[2], b)):
    diag = d.get("diag", {})
    if diag:
        print(f"{src}: wall={diag.get('wall_sec', 0):.0f}s "
              f"load={diag.get('loadavg_start')}->{diag.get('loadavg_end')} "
              f"gc={diag.get('gc_total_ms')}ms")
ratios = sorted(((qb[q] / qa[q] if qa[q] > 0 else float('inf'), q)
                 for q in common), reverse=True)
print("\nworst warm regressions (b/a):")
for r, q in ratios[:10]:
    print(f"  {q:30s} {qa[q]:6.2f} -> {qb[q]:6.2f}  {r:5.2f}x")
print("best warm improvements (b/a):")
for r, q in ratios[-5:]:
    print(f"  {q:30s} {qa[q]:6.2f} -> {qb[q]:6.2f}  {r:5.2f}x")
