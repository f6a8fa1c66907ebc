"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import random
import unittest

import stats


class UnionTest(unittest.TestCase):
    def test_overlapping_spans_count_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)

    def test_nested_and_touching_spans(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_order_and_empty_spans_do_not_matter(self):
        spans = [(5, 7), (0, 1), (6, 9), (3, 3), (4, 2)]
        self.assertEqual(stats.union_length(spans), 5)
        self.assertEqual(stats.union_length(list(reversed(spans))), 5)
        self.assertEqual(stats.union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_clipped_to_the_parent(self):
        # clipped to the parent [0, 8], the children cover [2, 4] and [6, 8]
        self.assertEqual(stats.self_time(0, 8, [(2, 4), (3, 4), (6, 12)]), 4)

    def test_no_children_is_the_whole_span(self):
        self.assertEqual(stats.self_time(1, 3, []), 2)

    def test_driver_gap_is_wall_minus_job_union(self):
        jobs = [(1, 3), (2, 5), (7, 8)]
        self.assertEqual(stats.self_time(0, 10, jobs), 10 - 5)


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, beyond, n = stats.tail(xs)
        self.assertEqual((value, beyond, n), (90, 10, 100))
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_just_enough_samples(self):
        value, pct, beyond, n = stats.tail(list(range(11)))
        self.assertEqual((value, beyond), (0, 10))

    def test_too_few_samples_give_the_largest(self):
        random.seed(3)
        xs = [random.random() for _ in range(7)]
        self.assertEqual(stats.tail(xs), (max(xs), 100.0, 0, 7))

    def test_input_order_does_not_matter(self):
        xs = [random.random() for _ in range(40)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs, reverse=True)))


class CompareTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]

    def test_clear_gain_is_improved(self):
        change = [x - 2 for x in self.parent]
        r = stats.compare(self.parent, change, "lower", 0.1)
        self.assertEqual(r["verdict"], "improved")
        self.assertEqual(r["change_won"], 1.0)

    def test_small_change_within_bound_is_no_worse(self):
        change = [x + 0.05 for x in self.parent]
        self.assertEqual(stats.compare(self.parent, change, "lower", 0.1)["verdict"],
                         "no worse")

    def test_regression_beyond_bound_is_worse(self):
        change = [x * 1.5 for x in self.parent]
        self.assertEqual(stats.compare(self.parent, change, "lower", 0.1)["verdict"],
                         "worse")

    def test_noisy_parent_is_unresolved(self):
        noisy = [5, 15, 8, 12, 6, 14, 7, 13, 9, 11]
        change = [x + 1 for x in noisy]
        self.assertEqual(stats.compare(noisy, change, "lower", 0.1)["verdict"],
                         "unresolved")

    def test_higher_is_better(self):
        change = [x + 2 for x in self.parent]
        self.assertEqual(stats.compare(self.parent, change, "higher", 0.1)["verdict"],
                         "improved")


if __name__ == "__main__":
    unittest.main()
