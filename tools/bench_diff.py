#!/usr/bin/env python3
"""Diff two bench sidecar files (bench_summary.json format: first line is
the full {"metric":"total",...,"queries":{...}} record). Usage:
  python3 tools/bench_diff.py BEFORE.json AFTER.json [top_n]
Prints per-query deltas sorted by absolute seconds saved, plus totals.
Bench records a failed query as a negative time: such rows print as
FAILED, sort below every timed row and never count as a delta.
"""
import json, sys

def load(p):
    with open(p) as f:
        rec = json.loads(f.readline())
    return rec["queries"], rec["value"]

def nfailed(queries):
    return sum(1 for v in queries.values() if v < 0)

def cell(v, missing):
    if v is None:
        return f"{missing:>8s}"
    return "  FAILED" if v < 0 else f"{v:8.2f}"

def main():
    before, tb = load(sys.argv[1])
    after, ta = load(sys.argv[2])
    top = int(sys.argv[3]) if len(sys.argv) > 3 else 40
    names = sorted(set(before) | set(after))
    rows = []
    for n in names:
        b, a = before.get(n), after.get(n)
        timed = b is not None and a is not None and b >= 0 and a >= 0
        rows.append((b - a if timed else None, n, b, a))
    rows.sort(key=lambda r: (r[0] is None, -abs(r[0] or 0.0)))
    print(f"total: {tb:.1f} -> {ta:.1f}  ({tb-ta:+.1f} s)  "
          f"failed: {nfailed(before)} -> {nfailed(after)}")
    print(f"{'query':34s} {'before':>8s} {'after':>8s} {'delta':>8s} {'ratio':>6s}")
    for d, n, b, a in rows[:top]:
        ds = f"{d:+8.2f}" if d is not None else " " * 8
        rat = f"{a/b:6.2f}" if (d is not None and b > 0) else "      "
        print(f"{n:34s} {cell(b, 'new')} {cell(a, 'gone')} {ds} {rat}")

if __name__ == "__main__":
    main()
