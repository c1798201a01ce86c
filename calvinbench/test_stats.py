"""Unit tests for the benchmark's statistics.

Run from the repository root: python3 -m unittest calvinbench/test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class MedianQuartiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_exclusive_method(self):
        # statistics.quantiles' default (exclusive) method on 1..9
        self.assertEqual(stats.quartiles(range(1, 10)), (2.5, 5.0, 7.5))

    def test_iqr_share(self):
        self.assertAlmostEqual(stats.iqr_share(range(1, 10)), 1.0)
        self.assertEqual(stats.iqr_share([7.0] * 10), 0.0)


class Tail(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, n), (90, 100))
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 10),
                         stats.tail(sorted([5, 1, 4, 2, 3] * 10)))

    def test_never_below_median(self):
        xs = list(range(1, 14))  # 13 samples: rank 3 has 10 beyond
        value, pct, n = stats.tail(xs)
        self.assertEqual(value, 7)
        self.assertGreaterEqual(pct, 50.0)

    def test_few_samples_give_the_maximum(self):
        self.assertEqual(stats.tail([3, 9, 1, 4]), (9, 100.0, 4))
        self.assertEqual(stats.tail(list(range(10))), (9, 100.0, 10))

    def test_twenty_one_samples_give_the_median(self):
        value, pct, n = stats.tail(list(range(21)))
        self.assertEqual(value, 10)
        self.assertEqual(sum(x > value for x in range(21)), 10)


class Drift(unittest.TestCase):
    def test_flat_walls_read_one(self):
        self.assertEqual(stats.drift([2.0] * 8), 1.0)

    def test_growth_over_quarters(self):
        walls = [1, 1, 2, 2, 3, 3, 4, 4]  # quarters of two batches
        self.assertEqual(stats.drift(walls), 4.0)

    def test_short_runs_use_single_batches(self):
        self.assertEqual(stats.drift([2.0, 5.0, 3.0]), 1.5)


class CommitRatio(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.commit_ratio(3856, 4000), 0.964)
        self.assertEqual(stats.commit_ratio(0, 10), 0.0)


class SelfTimes(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "batch", "startMs": 0, "endMs": 1000},
            {"id": 2, "parent": 1, "layer": "job", "startMs": 100, "endMs": 400},
            {"id": 3, "parent": 1, "layer": "job", "startMs": 300, "endMs": 600},
            {"id": 4, "parent": 2, "layer": "stage", "startMs": 150, "endMs": 350},
        ]
        self.assertEqual(stats.self_times(spans),
                         {"batch": 0.5, "job": 0.4, "stage": 0.2})

    def test_child_outside_parent_is_clipped(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "a", "startMs": 0, "endMs": 100},
            {"id": 2, "parent": 1, "layer": "b", "startMs": 50, "endMs": 300},
        ]
        self.assertEqual(stats.self_times(spans), {"a": 0.05, "b": 0.25})


if __name__ == "__main__":
    unittest.main()
