#!/usr/bin/env python3
"""Per-layer self time from a spans file written by a traced run
(<build dir>/traces/<workload>-<seed>.spans.jsonl).

A span's self time is its duration minus the time its children cover
(children of one parent may overlap, so their union is subtracted).
Prints, per span name: count, total ms, self ms and share of all self
time.

    python3 perfbench/trace_report.py .bench_build/traces/batch_suite-1.spans.jsonl
"""
import collections
import json
import sys


def union_ms(intervals):
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    children = collections.defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s)
    rows = collections.defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        dur = max(0.0, s["end_ms"] - s["start_ms"])
        # children are clipped to their parent before subtracting
        kids = [(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                for c in children[s["id"]]]
        kids = [(a, b) for a, b in kids if b > a]
        r = rows[s["name"]]
        r[0] += 1
        r[1] += dur
        r[2] += max(0.0, dur - union_ms(kids))
    return rows


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    spans = [json.loads(line) for line in open(sys.argv[1]) if line.strip()]
    rows = self_times(spans)
    total_self = sum(r[2] for r in rows.values()) or 1.0
    print(f"{'span':16} {'count':>7} {'total_ms':>12} {'self_ms':>12} {'self_share':>10}")
    for name, (n, tot, own) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
        print(f"{name:16} {n:7d} {tot:12.1f} {own:12.1f} {own / total_self:10.3f}")


if __name__ == "__main__":
    main()
