#!/usr/bin/env python3
"""Compare two traced lake-benchmark runs, layer by layer.

    python3 lakebench/diff.py BEFORE AFTER

BEFORE and AFTER are run records written by a `--trace 1` run
(lakebench/out/<workload>-seed<n>-trace1.json) or directories holding
them; records are paired by workload. For each workload it prints the
self time of every span name (a layer boundary: the span's duration
minus what its child spans cover) per traced cycle, then every
per-layer metric, with the change from BEFORE to AFTER.
"""
import collections
import json
import os
import sys


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith("-trace1.json"))
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace"):
            runs[r["workload"]] = r
    return runs


def self_times(run):
    """Self seconds per span name, per traced cycle."""
    spans = run["spans"]
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    total = collections.Counter()
    for s in spans:
        covered, end = 0, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if end is not None and a < end:
                a = end
            if b > a:
                covered += b - a
                end = b
        total[s["name"]] += (s["end_ns"] - s["start_ns"] - covered) / 1e9
    cycles = len({o["cycle"] for o in run["ops"] if o["traced"]}) or 1
    return {k: v / cycles for k, v in total.items()}


def row(name, a, b, unit=""):
    d = b - a
    rel = f"{b / a:7.3f}x" if a else "      -"
    print(f"  {name:38s} {a:14.4f} {b:14.4f} {d:+14.4f} {rel} {unit}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(before) & set(after)):
        a, b = before[w], after[w]
        print(f"== {w}  (before: seed {a['seed']}, after: seed {b['seed']})")
        print(f"  {'self time per traced cycle (s)':38s} {'before':>14s} "
              f"{'after':>14s} {'change':>14s}")
        sa, sb = self_times(a), self_times(b)
        for k in sorted(set(sa) | set(sb)):
            row(k, sa.get(k, 0.0), sb.get(k, 0.0), "s")
        print(f"  {'per-layer metric':38s}")
        la, lb = a["per_layer"], b["per_layer"]
        for k in sorted(set(la) | set(lb)):
            unit = (la.get(k) or lb.get(k))["unit"]
            row(k, la.get(k, {"value": 0.0})["value"],
                lb.get(k, {"value": 0.0})["value"], unit)
    missing = set(before) ^ set(after)
    if missing:
        print("unpaired workloads: " + ", ".join(sorted(missing)))


if __name__ == "__main__":
    main()
