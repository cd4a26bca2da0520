#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

Checks the median and span arithmetic, the run-health flags, the serve
result comparison,
the metric list against BENCHMARK.json, and (through the built harness)
that the generator is deterministic per seed and that the fan-in check
catches planted wrong outputs.
"""

import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class Medians(unittest.TestCase):
    def test_median(self):
        self.assertEqual(run.median([3, 1, 2]), 2)
        self.assertEqual(run.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            run.median([])


class Health(unittest.TestCase):
    raw = {"code_heap_mb": 100.0, "code_heap_max_mb": 512.0, "opcache_live_end": 0}

    def test_healthy_run_passes(self):
        self.assertEqual(run.health_failures(self.raw), [])

    def test_full_code_cache_is_flagged(self):
        self.assertEqual(len(run.health_failures(dict(self.raw, code_heap_mb=480.0))), 1)

    def test_leaked_cached_frames_are_flagged(self):
        self.assertEqual(len(run.health_failures(dict(self.raw, opcache_live_end=2))), 1)


class Spans(unittest.TestCase):
    def test_union_length_merges_overlaps_and_clips(self):
        self.assertEqual(run.union_length([(1, 3), (2, 5), (7, 8)], 0, 10), 5)
        self.assertEqual(run.union_length([(-5, 2), (9, 20)], 0, 10), 3)
        self.assertEqual(run.union_length([], 0, 10), 0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
            {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},
            {"id": 3, "parent": 0, "start": 7.0, "end": 8.0},
            {"id": 4, "parent": 2, "start": 2.5, "end": 4.0},
        ]
        st = run.self_times(spans)
        self.assertAlmostEqual(st[0], 5.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 1.5)
        self.assertAlmostEqual(st[4], 1.5)

    def test_innermost_span(self):
        spans = [{"id": 0, "start": 0, "end": 10}, {"id": 1, "start": 2, "end": 4}]
        self.assertEqual(run.innermost(spans, 3), 1)
        self.assertEqual(run.innermost(spans, 5), 0)
        self.assertIsNone(run.innermost(spans, 11))


class ServeCheck(unittest.TestCase):
    rows = [["AFG", 3, 1.5], ["NAM", 2, None]]

    def test_same_rows_any_order_match(self):
        self.assertTrue(run.rows_match(self.rows, list(reversed(self.rows))))
        self.assertTrue(run.rows_match([["AFG", 3, 1.5 + 1e-12]], [["AFG", 3, 1.5]]))

    def test_planted_wrong_output_is_caught(self):
        self.assertFalse(run.rows_match([["AFG", 3, 1.6], self.rows[1]], self.rows))
        self.assertFalse(run.rows_match(self.rows[:1], self.rows))
        self.assertFalse(run.rows_match([["AFG", 3, 1.5], ["NAM", 2, 0.0]], self.rows))
        self.assertFalse(run.rows_match([["AFG", 4, 1.5], self.rows[1]], self.rows))

    def test_order_matters_when_ordered(self):
        self.assertFalse(run.rows_match(list(reversed(self.rows)), self.rows, ordered=True))


class MetricList(unittest.TestCase):
    def test_benchmark_json_lists_exactly_the_printed_metrics(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         run.per_layer_metrics())
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))
        self.assertLessEqual(len(bench["per_layer"]), 128)


class Harness(unittest.TestCase):
    def test_generator_and_output_check(self):
        cp = run.build()
        out = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"],
                             capture_output=True, text=True)
        sys.stdout.write(out.stdout)
        self.assertEqual(out.returncode, 0, out.stdout + out.stderr)


if __name__ == "__main__":
    unittest.main(verbosity=2)
