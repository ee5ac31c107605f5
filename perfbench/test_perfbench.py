#!/usr/bin/env python3
"""Tests of the benchmark's own code.

    python3 perfbench/test_perfbench.py       # Python tests, then the Scala self-test

The Scala self-test (listener attribution, read-after-write check) runs
through `run.py --selftest` and builds the program first when needed.
"""
import json
import os
import re
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import compare  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

S = 1_000_000_000  # ns per second


def span(id_, name, parent, start_s, end_s, timed=True, **counts):
    return {"id": id_, "name": name, "parent": parent, "timed": timed,
            "start_ns": int(start_s * S), "end_ns": int(end_s * S), "counts": counts,
            "facts": counts.pop("facts", {})}


class StatsTest(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 75), 4)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertEqual(stats.percentile([1, 2], 75), 1.75)
        self.assertEqual(stats.percentile([7], 90), 7)
        self.assertRaises(ValueError, stats.percentile, [], 50)

    def test_quartiles_match_the_exclusive_method(self):
        self.assertEqual(stats.quartiles(range(1, 11)), (2.75, 5.5, 8.25))
        self.assertEqual(stats.quartiles([1, 2, 3, 4]), (1.25, 2.5, 3.75))
        self.assertEqual(stats.spread(range(1, 11)), 1.0)
        self.assertEqual(stats.spread([4, 4, 4, 4]), 0.0)
        self.assertEqual(stats.median([3, 1, 2, 10]), 2.5)


class SelfTimeTest(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(1, "p", 0, 0, 10), span(2, "c", 1, 2, 5), span(3, "g", 2, 3, 4)]
        self.assertEqual(layers.self_times(spans), {1: 7.0, 2: 2.0, 3: 1.0})

    def test_overlapping_children_count_once(self):
        spans = [span(1, "p", 0, 0, 10), span(2, "a", 1, 1, 4), span(3, "b", 1, 3, 6)]
        self.assertEqual(layers.self_times(spans)[1], 5.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, "p", 0, 0, 10), span(2, "a", 1, 8, 12), span(3, "b", 1, -1, 1)]
        self.assertEqual(layers.self_times(spans)[1], 7.0)

    def test_a_sibling_is_not_a_child(self):
        spans = [span(1, "p", 0, 0, 10), span(2, "q", 0, 2, 5)]
        self.assertEqual(layers.self_times(spans), {1: 10.0, 2: 3.0})


class PerLayerTest(unittest.TestCase):
    def test_every_metric_is_reported_and_medians_taken_per_call(self):
        spans = [
            span(1, "sources.upsert", 0, 0, 2, output_rows=250, jobs=4,
                 facts={"delta_rows": 10}),
            span(2, "sources.upsert", 0, 3, 4, output_rows=150, jobs=6,
                 facts={"delta_rows": 10}),
            span(3, "sources.upsert", 0, 5, 8, output_rows=200, jobs=5,
                 facts={"delta_rows": 10}),
            span(4, "sources.changelog.snapshot", 0, 0, 1, input_rows=300,
                 facts={"live_rows": 100}),
        ]
        got = layers.per_layer(spans)
        self.assertEqual(set(got), {n for n, _ in layers.metrics()})
        self.assertEqual(got["sources.upsert.wall_s"], 2.0)
        self.assertEqual(got["sources.upsert.jobs"], 5)
        self.assertEqual(got["sources.upsert.rewrite_ratio"], 20.0)
        self.assertEqual(got["sources.changelog.snapshot.read_amp"], 3.0)
        self.assertEqual(got["ingest.raw_zone.wall_s"], 0)

    def test_warm_up_calls_are_left_out(self):
        spans = [
            span(1, "sources.upsert", 0, 0, 9, timed=False, jobs=40),
            span(2, "sources.upsert", 0, 10, 11, jobs=4),
            span(3, "sources.upsert", 0, 12, 14, jobs=6),
        ]
        got = layers.per_layer(spans)
        self.assertEqual(got["sources.upsert.wall_s"], 1.5)
        self.assertEqual(got["sources.upsert.jobs"], 5)

    def test_metric_names_are_unique_and_well_formed(self):
        names = [n for n, _ in layers.metrics()]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(names), 128)
        for n, u in layers.metrics():
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
            self.assertRegex(u, r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkFileTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_metrics_match_what_the_run_reports(self):
        raw = {"setup_s": 1.0, "samples": {"write_s": [1.0], "read_ms": [2.0]},
               "facts": {"stored_bytes": 10, "live_rows": 5}, "peak_heap_mb": 3.0,
               "failed": 0, "attempted": 4}
        e2e = run.end_to_end(raw)
        self.assertEqual([m["name"] for m in self.bench["end_to_end"]], list(e2e))
        self.assertEqual([m["unit"] for m in self.bench["end_to_end"]],
                         [u for _, u in e2e.values()])
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         layers.metrics())
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(run.WORKLOADS))


    def test_a_metric_without_samples_is_missing_not_zero(self):
        raw = {"setup_s": 1.0, "samples": {"write_s": [], "read_ms": [2.0]},
               "facts": {"stored_bytes": 10, "live_rows": 5}, "peak_heap_mb": 3.0,
               "failed": 4, "attempted": 5}
        self.assertRaises(run.MissingMetric, run.end_to_end, raw)
        self.assertRaises(run.MissingMetric, run.end_to_end, dict(raw, setup_s=None))


class CompareTest(unittest.TestCase):
    def test_verdicts(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        faster = [x * 0.8 for x in parent]
        self.assertEqual(compare.verdict(parent, faster, "lower", 0.1)[0], "better")
        slower = [x * 1.2 for x in parent]
        self.assertEqual(compare.verdict(parent, slower, "lower", 0.1)[0], "worse")
        self.assertEqual(compare.verdict(parent, parent, "lower", 0.1)[0], "unchanged")
        noisy = [5.0, 15.0, 10.0, 6.0, 14.0, 10.0, 7.0, 13.0, 10.0, 9.0]
        self.assertEqual(compare.verdict(noisy, noisy, "lower", 0.1)[0], "unresolved")
        self.assertEqual(compare.verdict(parent, faster, "higher", 0.1)[0], "worse")

    def test_no_gain_counts_when_the_change_fails_more(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        faster = [x * 0.8 for x in parent]
        self.assertEqual(compare.verdict(parent, faster, "lower", 0.1, 0, 3)[0], "failing")
        self.assertEqual(compare.verdict(parent, faster, "lower", 0.1, 3, 3)[0], "better")

    def test_runs_all_better_only_resolve_a_wide_spread(self):
        # every change run beats every parent run, but the median gap is
        # within the parent's interquartile distance: no gain, yet no worse
        parent = [8.0, 12.0, 9.0, 11.0, 8.5, 11.5, 9.5, 10.5, 10.0, 10.0]
        change = [7.9, 7.8, 7.7, 7.6, 7.9, 7.8, 7.7, 7.6, 7.9, 7.8]
        self.assertLess(abs(stats.median(change) - stats.median(parent)),
                        stats.quartiles(parent)[2] - stats.quartiles(parent)[0])
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0], "unchanged")
        self.assertEqual(compare.verdict(parent, parent[::-1], "lower", 0.1)[0], "unresolved")


class ScalaSelfTest(unittest.TestCase):
    def test_scala_self_test_passes(self):
        proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--selftest"],
                              capture_output=True, text=True)
        lines = proc.stdout.splitlines()
        self.assertTrue(lines, proc.stderr[-2000:])
        self.assertFalse([ln for ln in lines if re.match(r"selftest FAIL", ln)], proc.stdout)
        self.assertEqual(proc.returncode, 0, proc.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
