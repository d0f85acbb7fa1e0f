"""Tests of the benchmark's own arithmetic.

Run from the repository root:  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNone(stats.tail([]))

    def test_eleven_samples_leave_ten_beyond_the_lowest(self):
        pct, value, n = stats.tail([float(x) for x in range(11)])
        self.assertEqual(n, 11)
        self.assertEqual(value, 0.0)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_hundred_samples_give_p90(self):
        xs = [float(x) for x in range(100, 0, -1)]
        pct, value, n = stats.tail(xs)
        self.assertEqual((pct, value, n), (90.0, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_thousand_samples_give_p99(self):
        pct, value, _ = stats.tail(list(range(1, 1001)))
        self.assertEqual((pct, value), (99.0, 990))


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        for xs in ([1.0, 2.0, 3.0, 4.0], [5, 1, 4, 2, 3], [0.3, 0.1, 0.2, 0.9, 0.5, 0.7, 0.4]):
            self.assertEqual(list(stats.quartiles(xs)), statistics.quantiles(xs, n=4))

    def test_exclusive_method_values(self):
        # exclusive method on 1..10: positions (n+1)p = 2.75, 5.5, 8.25
        self.assertEqual(stats.quartiles(list(range(1, 11))), (2.75, 5.5, 8.25))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread(list(range(1, 11))), (8.25 - 2.75) / 5.5)

    def test_median_of_even_count(self):
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([3.0]), 3.0)


class SelfTimeTest(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 2), (4, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 5), (3, 7), (6, 8)]), 3)

    def test_nested_children(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 9), (2, 3), (4, 5)]), 2)

    def test_children_clipped_to_the_span(self):
        self.assertEqual(stats.self_time(2, 6, [(0, 3), (5, 9)]), 2)

    def test_no_children(self):
        self.assertEqual(stats.self_time(1.5, 4.0, []), 2.5)

    def test_child_outside_the_span(self):
        self.assertEqual(stats.self_time(0, 1, [(2, 3)]), 1)

    def test_union_of_touching_intervals(self):
        self.assertEqual(stats.union_length([(0, 1), (1, 2)]), 2)


if __name__ == "__main__":
    unittest.main()
