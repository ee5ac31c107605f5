#!/usr/bin/env python3
"""Paired compare of two checkouts of the repo, for a change that claims a gain.

    python3 perfbench/compare.py --parent ../parent --change . --pairs 10

For each workload it runs `pairs` pairs, seeds 101, 102, ..., alternating
which side runs first, and prints one row per workload with a verdict per
end-to-end metric:

  failing     the change had more failed operations or incorrect runs than
              the parent; no gain counts
  better      the change won at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              interquartile distance
  worse       the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json
  unresolved  a side's spread (IQR / median) exceeds the bound, unless every
              change run reads better than every parent run
  unchanged   otherwise

A run that cannot report a metric (every timed operation of a kind failed)
exits non-zero and stops the compare.
"""
import argparse
import os
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402
from steady import load_benchmark, run_once  # noqa: E402


# Seeds of the paired runs: apart from steady.py's 1.., so that a claim is
# shown on seeds other than those the bounds were set on.
FIRST_SEED = 101


def verdict(parent, change, better, bound, failed_parent=0, failed_change=0):
    """(verdict, change in median as a share of the parent's, wins)."""
    sign = -1 if better == "lower" else 1
    wins = sum((c - p) * sign > 0 for p, c in zip(parent, change))
    pm, cm = stats.median(parent), stats.median(change)
    q1, _, q3 = stats.quartiles(parent)
    rel = (cm - pm) / pm if pm else 0.0
    all_better = min(x * sign for x in change) > max(x * sign for x in parent)
    if failed_change > failed_parent:
        v = "failing"
    elif wins >= 0.9 * len(parent) and abs(cm - pm) > q3 - q1 and (cm - pm) * sign > 0:
        v = "better"
    elif -rel * sign > bound:
        v = "worse"
    elif max(stats.spread(parent), stats.spread(change)) > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return v, rel, wins


def main():
    bench = load_benchmark()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    if a.pairs < 2:
        ap.error("--pairs must be at least 2 to have quartiles")
    metrics = bench["end_to_end"]
    for w in a.workloads.split(","):
        sides = {"parent": {}, "change": {}}
        failed = {"parent": 0, "change": 0}
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res, _, _ = run_once(getattr(a, side), w, FIRST_SEED + i,
                                     bench["run_seconds"], 0)
                failed[side] += res["failed"] + (not res["correct"])
                for m in metrics:
                    sides[side].setdefault(m["name"], []).append(
                        res["metrics"][m["name"]]["value"])
        cells = []
        for m in metrics:
            p, c = sides["parent"][m["name"]], sides["change"][m["name"]]
            v, rel, wins = verdict(p, c, m["better"], m["bound"],
                                   failed["parent"], failed["change"])
            cells.append(f"{m['name']}={v} ({rel:+.1%}, {wins}/{a.pairs} won; "
                         f"parent {stats.median(p):.6g}, change {stats.median(c):.6g})")
        print(f"{w}: failed ops and incorrect runs: parent {failed['parent']}, "
              f"change {failed['change']} | "
              + " | ".join(cells), flush=True)


if __name__ == "__main__":
    main()
