"""Tests of the benchmark's arithmetic: python3 -m unittest perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_100_samples(self):
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertTrue(stats.is_tail_estimate(100, 0.9))
        self.assertFalse(stats.is_tail_estimate(99, 0.9))
        self.assertEqual(stats.min_samples(0.5), 20)

    def test_percentile_interpolates(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(stats.percentile(xs, 0.5), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 90.1)
        self.assertEqual(stats.percentile([7], 0.9), 7)
        self.assertEqual(stats.percentile([3, 1, 2], 0.0), 1)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [("op", 0, 100), ("construct", 0, 40), ("job", 10, 30),
                 ("plan", 40, 50), ("execute", 50, 100), ("job", 60, 90)]
        s = stats.self_times(spans)
        self.assertEqual(s, {"op": 0, "construct": 20, "job": 50, "plan": 10, "execute": 20})
        self.assertEqual(sum(s.values()), 100)

    def test_concurrent_jobs_count_once(self):
        spans = [("op", 0, 100), ("execute", 0, 100), ("job", 10, 60), ("job", 40, 80)]
        s = stats.self_times(spans)
        self.assertEqual(s["job"], 70)
        self.assertEqual(s["execute"], 30)
        self.assertEqual(sum(s.values()), 100)

    def test_child_overrunning_parent_is_clipped(self):
        spans = [("op", 0, 100), ("construct", 0, 50), ("job", 40, 70), ("execute", 50, 100)]
        s = stats.self_times(spans)
        self.assertEqual(s["job"], 10)
        self.assertEqual(s["construct"], 40)
        self.assertEqual(s["op"], 0)

    def test_gap_is_harness_time(self):
        spans = [("op", 0, 100), ("construct", 0, 30), ("execute", 40, 90)]
        self.assertEqual(stats.self_times(spans)["op"], 20)


if __name__ == "__main__":
    unittest.main()
