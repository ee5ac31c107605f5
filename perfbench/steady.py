#!/usr/bin/env python3
"""Steadiness tool: runs workloads N times and prints, for every end-to-end
metric, the median, the quartiles and the spread (IQR / median) against the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workloads full_build,daily_upsert,changelog --runs 10
    python3 perfbench/steady.py --workloads changelog --runs 5 --overhead

Seeds are 1 .. runs, and each run measures BENCHMARK.json's run_seconds.
A spread below a third of the bound is steady. The two maintenance
workloads start from the same seeded deltas, so for every seed run on both,
their state digests after warm-up must agree; the tool checks that too.
--overhead also makes a traced run per seed and prints the
traced-minus-untraced median of each metric.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(root, workload, seed, seconds, trace):
    """(result line, info line, wall seconds) of one run in checkout `root`."""
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True)
    wall = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed with exit {proc.returncode}")
    return json.loads(lines[-1]), json.loads(lines[-2]), wall


def table(rows, bounds):
    print(f"  {'metric':<24}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>7}  verdict")
    for name, xs in rows.items():
        q1, q2, q3 = stats.quartiles(xs) if len(xs) > 1 else (xs[0],) * 3
        sp = stats.spread(xs) if len(xs) > 1 else 0.0
        b = bounds.get(name)
        verdict = ("-" if b is None else "steady" if sp < b / 3
                   else "within bound" if sp <= b else "UNSTEADY")
        print(f"  {name:<24}{stats.median(xs):>14.6g}{q1:>14.6g}{q3:>14.6g}"
              f"{sp:>9.3f}{'' if b is None else b:>7}  {verdict}")


def main():
    bench = load_benchmark()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    digests = {}
    for w in a.workloads.split(","):
        values, traced, walls, bad = {}, {}, [], 0
        for seed in range(1, a.runs + 1):
            res, info, wall = run_once(ROOT, w, seed, seconds, 0)
            walls.append(wall)
            bad += res["failed"] + (not res["correct"])
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            d = info["detail"]["facts"].get("state_digest_warmup")
            if d:
                digests.setdefault(seed, {})[w] = d
            if a.overhead:
                _, tinfo, _ = run_once(ROOT, w, seed, seconds, 1)
                for k, v in tinfo["end_to_end"].items():
                    traced.setdefault(k, []).append(v)
            print(f"{w} seed {seed}: {wall:.1f} s, " + ", ".join(
                f"{k}={m['value']:.6g}" for k, m in res["metrics"].items()), flush=True)
        print(f"\n{w}: {a.runs} runs, {seconds} s measured each, "
              f"mean wall {sum(walls) / len(walls):.1f} s, failures {bad}")
        print(f"  host: {json.dumps(info['host'])}")
        table(values, bounds)
        if a.overhead:
            print("  tracing overhead (traced median - untraced median):")
            for k, xs in values.items():
                diff = stats.median(traced[k]) - stats.median(xs)
                print(f"    {k:<24}{diff:>+14.6g}  ({diff / stats.median(xs):+.1%})")
        print()
    split = {s: d for s, d in digests.items() if len(set(d.values())) > 1}
    shared = [s for s, d in digests.items() if len(d) > 1]
    if shared:
        print(f"state digests after warm-up: {len(shared) - len(split)}/{len(shared)} "
              "seeds agree across the maintenance workloads"
              + (f"; DISAGREE on {sorted(split)}" if split else ""))
    return 1 if split else 0


if __name__ == "__main__":
    sys.exit(main())
