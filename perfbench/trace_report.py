#!/usr/bin/env python3
"""Summarises the traced phase of a traced run's spans: per span name, the
count, total time and self time (duration minus the part of it that child
spans cover).

    python3 perfbench/trace_report.py <run>.trace.jsonl
"""
import argparse
import json
from collections import defaultdict


def covered(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("trace")
    args = ap.parse_args()
    spans = [json.loads(line) for line in open(args.trace)]
    by_id = {s["id"]: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def in_phase(s):
        while s:
            if s["name"] == "traced":
                return True
            s = by_id.get(s["parent"])
        return False

    rows = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        if not in_phase(s):
            continue
        dur = s["end_ns"] - s["start_ns"]
        kids = [(max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                for c in children[s["id"]]]
        self_ns = dur - covered([k for k in kids if k[1] > k[0]])
        r = rows[s["name"]]
        r[0] += 1
        r[1] += dur / 1e9
        r[2] += self_ns / 1e9
    print(f"{'span':<28}{'count':>7}{'total_s':>11}{'self_s':>11}")
    for name, (n, tot, self_s) in sorted(rows.items(), key=lambda kv: -kv[1][1]):
        print(f"{name:<28}{n:>7}{tot:>11.3f}{self_s:>11.3f}")


if __name__ == "__main__":
    main()
