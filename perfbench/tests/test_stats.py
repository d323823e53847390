"""Unit tests for the benchmark's order statistics and interval arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from stats import covered, median, self_time, tail, union  # noqa: E402


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        xs = list(range(1, 101))
        value, pct, n = tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        # exactly ten samples lie beyond the reported value
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7] * 8
        self.assertEqual(tail(xs), tail(sorted(xs)))

    def test_twenty_samples_give_the_median_rank(self):
        value, pct, n = tail(range(20))
        self.assertEqual((value, pct, n), (9, 50.0, 20))

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(tail([4.0, 1.0, 2.5]), (4.0, 100.0, 3))
        self.assertEqual(tail(range(19)), (18, 100.0, 19))

    def test_empty(self):
        value, pct, n = tail([])
        self.assertTrue(math.isnan(value))
        self.assertEqual((pct, n), (None, 0))

    def test_custom_beyond(self):
        self.assertEqual(tail(range(10), beyond=2), (7, 80.0, 10))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlapping_and_touching(self):
        self.assertEqual(union([(5, 7), (0, 2), (1, 3), (3, 4), (8, 8)]),
                         [(0, 4), (5, 7)])

    def test_union_of_nested(self):
        self.assertEqual(union([(0, 10), (2, 3), (4, 12)]), [(0, 12)])

    def test_covered_counts_overlap_once(self):
        self.assertEqual(covered([(0, 2), (1, 3)]), 3)

    def test_covered_clips_to_window(self):
        self.assertEqual(covered([(0, 2), (4, 8)], 1, 5), 2)
        self.assertEqual(covered([(0, 2)], 3, 5), 0)

    def test_self_time_subtracts_child_union(self):
        # children overlap each other and stick out of the parent
        self.assertEqual(self_time((0, 10), [(1, 4), (3, 5), (9, 12)]), 5)
        self.assertEqual(self_time((0, 10), []), 10)

    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertTrue(math.isnan(median([])))


if __name__ == "__main__":
    unittest.main()
