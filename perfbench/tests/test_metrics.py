"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(M.percentile(range(90), 0.9))   # 9 above p90
        self.assertIsNotNone(M.percentile(range(100), 0.9))
        self.assertIsNone(M.percentile(range(19), 0.5))
        self.assertIsNone(M.percentile([], 0.5))

    def test_value_and_samples_beyond(self):
        xs = list(range(1, 101))
        p90 = M.percentile(xs, 0.9)
        self.assertAlmostEqual(p90, 90.1)
        self.assertEqual(sum(1 for x in xs if x > p90), 10)

    def test_ties_at_the_tail_do_not_count_as_beyond(self):
        # 100 samples whose top 20 are equal: nothing lies above p90
        self.assertIsNone(M.percentile([1] * 80 + [5] * 20, 0.9))


class SpanArithmeticTest(unittest.TestCase):
    def test_union_and_subtract(self):
        self.assertEqual(M.union([(5, 7), (0, 2), (1, 3)]), [(0, 3), (5, 7)])
        self.assertEqual(M.subtract([(0, 10)], [(2, 3), (5, 7), (9, 12)]), [(0, 2), (3, 5), (7, 9)])
        self.assertEqual(M.length([(0, 4), (2, 6)]), 6)

    def test_self_time_subtracts_children_only(self):
        spans = [
            {"id": 1, "parent": 0, "start_us": 0, "end_us": 100},
            {"id": 2, "parent": 1, "start_us": 10, "end_us": 40},
            {"id": 3, "parent": 1, "start_us": 30, "end_us": 60},   # overlaps its sibling
            {"id": 4, "parent": 2, "start_us": 15, "end_us": 20},
        ]
        selfs = M.self_intervals(spans)
        self.assertEqual(M.length(selfs[1]), 100 - 50)
        self.assertEqual(M.length(selfs[2]), 30 - 5)
        self.assertEqual(M.length(selfs[3]), 30)
        self.assertEqual(M.length(selfs[4]), 5)

    def test_per_layer_busy_and_driver_gap(self):
        trace = {
            "spans": [
                {"id": 1, "parent": 0, "name": "ext.Curation.f", "layer": "ext.Curation",
                 "start_us": 0, "end_us": 1_000_000},
                {"id": 2, "parent": 1, "name": "ext.WebOps.g", "layer": "ext.WebOps",
                 "start_us": 100_000, "end_us": 300_000},
            ],
            # one job inside the parent's own time, one inside the child
            "jobs": [{"id": 0, "span": 1, "start_ms": 400, "end_ms": 900},
                     {"id": 1, "span": 2, "start_ms": 150, "end_ms": 250}],
            "stats": {"1": {"jobs": 1, "task_cpu_ns": 2e9}, "2": {"jobs": 1}},
        }
        out = M.per_layer(trace)
        self.assertAlmostEqual(out["ext.Curation.busy_s"], 0.8)
        self.assertAlmostEqual(out["ext.Curation.driver_gap_s"], 0.3)
        self.assertAlmostEqual(out["ext.WebOps.busy_s"], 0.2)
        self.assertAlmostEqual(out["ext.Curation.task_cpu_s"], 2.0)
        self.assertEqual(out["ext.Curation.calls"], 1)
        self.assertAlmostEqual(out["spark.busy_s"], 0.6)
        self.assertAlmostEqual(out["spark.driver_gap_s"], 0.4)
        self.assertEqual(out["spark.jobs"], 2)


class ErrorRateTest(unittest.TestCase):
    def test_failed_checks_count_as_failed_operations(self):
        ops = [{"ok": True}] * 9 + [{"ok": False}]
        checks = [{"ok": True}, {"ok": False}, {"ok": False}]
        self.assertEqual(M.error_counts(ops, checks), (10, 3))
        self.assertAlmostEqual(M.error_rate(ops, checks), 0.3)

    def test_clean_run(self):
        self.assertEqual(M.error_rate([{"ok": True}] * 4, [{"ok": True}]), 0.0)


class RecallTest(unittest.TestCase):
    def test_group_found_only_when_connected(self):
        groups = [[1, 2, 3], [4, 5], [6, 7]]
        pairs = [(1, 2), (2, 3), (4, 5), (6, 8)]
        self.assertAlmostEqual(M.group_recall(groups, pairs), 2 / 3)


if __name__ == "__main__":
    unittest.main()
