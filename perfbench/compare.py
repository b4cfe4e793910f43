#!/usr/bin/env python3
"""Compare the per-layer metrics and span self times of two traced runs.

    python3 perfbench/compare.py <before> <after>

Each side is a trace file written by `perfbench/run.py --trace 1`
(.perfbench/traces/<workload>-seed<n>.json) or a directory of them.
When a side holds several runs of a workload (several seeds), their
traced passes are pooled. For every workload found on both sides it
prints each per-layer metric's median before and after, then the median
self time per span kind (pass, tables.load, query, operators.build,
execute, job) and its change. A span's self time is its duration minus
the part of it covered by its child spans and the jobs it launched.
"""
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        doc = json.load(open(f))
        if "passes" in doc and "workload" in doc:
            runs.setdefault(doc["workload"], []).append(doc)
    if not runs:
        sys.exit(f"compare: no trace files in {path}")
    return runs


def pooled(docs, key):
    """Median over every traced pass of every run, per name under `key`;
    run-level figures (leaked RDDs, tracing overhead) as a median over runs."""
    vals, runs = {}, {}
    for d in docs:
        for p in d["passes"]:
            for name, v in p[key].items():
                vals.setdefault(name, []).append(v)
        for name, v in d.get(key, {}).items():
            runs.setdefault(name, []).append(v)
    out = {n: statistics.median(v) for n, v in runs.items()}
    out.update({n: statistics.median(v) for n, v in vals.items()})
    return out


def change(a, b):
    if a == 0:
        return "" if b == 0 else "new"
    return f"{(b - a) / abs(a) * 100:+.1f}%"


def main(before, after):
    a_runs, b_runs = load(before), load(after)
    for wl in sorted(set(a_runs) & set(b_runs)):
        a, b = a_runs[wl], b_runs[wl]
        hashes = {d["entry_hash"] for d in a + b}
        print(f"== {wl}: {len(a)} run(s) before, {len(b)} after"
              + ("" if len(hashes) == 1 else f"  WARNING: entry lists differ {sorted(hashes)}"))
        la, lb = pooled(a, "layers"), pooled(b, "layers")
        print(f"{'metric':32} {'before':>14} {'after':>14} {'change':>9}")
        for name in sorted(set(la) | set(lb)):
            va, vb = la.get(name, 0.0), lb.get(name, 0.0)
            print(f"{name:32} {va:14.6g} {vb:14.6g} {change(va, vb):>9}")
        sa, sb = pooled(a, "self_ms"), pooled(b, "self_ms")
        print(f"{'self time (ms)':32} {'before':>14} {'after':>14} {'delta':>9}")
        for name in sorted(set(sa) | set(sb)):
            va, vb = sa.get(name, 0.0), sb.get(name, 0.0)
            print(f"{name:32} {va:14.6g} {vb:14.6g} {vb - va:+9.1f}")
        print()
    for wl in sorted(set(a_runs) ^ set(b_runs)):
        print(f"== {wl}: only on the {'before' if wl in a_runs else 'after'} side")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
