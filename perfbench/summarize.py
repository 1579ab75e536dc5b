#!/usr/bin/env python3
"""Summarize a perfbench trace artifact.

Usage: python3 perfbench/summarize.py .bench_build/trace/<workload>-seed<n>.json

Prints each layer's self time (span duration minus the part covered by
its child spans), as the median over traced passes, and checks that
the layer spans account for the traced pass wall within 10%: the self
time of the pass span and of per-query spans (time outside every layer
call) must stay under 10% of the pass. Exits 1 when it does not.
"""
import json
import statistics
import sys
from collections import defaultdict


def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def layer(name):
    return "query" if name.startswith("query:") else name


def main(path):
    with open(path) as f:
        trace = json.load(f)
    spans = trace["spans"]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    per_pass = defaultdict(lambda: defaultdict(float))
    walls = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children[s["id"]]]
        self_ms = (s["end_ms"] - s["start_ms"]) - covered(kids)
        per_pass[s["pass"]][layer(s["name"])] += self_ms
        if s["name"] == "pass":
            walls[s["pass"]] = s["end_ms"] - s["start_ms"]
    if not walls:
        print("no traced pass in", path)
        return 1
    layers = sorted({n for p in per_pass.values() for n in p})
    wall = statistics.median(walls.values())
    print(f"{trace.get('workload')} seed {trace.get('seed')}: {len(walls)} traced pass(es), "
          f"median wall {wall:.1f} ms")
    print(f"{'layer':44s} {'self ms':>10s} {'share':>7s}")
    for n in sorted(layers, key=lambda n: -statistics.median(p[n] for p in per_pass.values())):
        ms = statistics.median(per_pass[p][n] for p in walls)
        print(f"{n:44s} {ms:10.1f} {ms / wall:7.1%}")
    # time outside every layer call: self time of the pass and query spans
    unaccounted = statistics.median(
        (per_pass[p]["pass"] + per_pass[p].get("query", 0.0)) / walls[p] for p in walls)
    ok = unaccounted <= 0.10
    print(f"layers account for {1 - unaccounted:.1%} of the traced pass wall "
          f"({'within' if ok else 'NOT within'} 10%)")
    return 0 if ok else 1


if __name__ == "__main__":
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1]))
