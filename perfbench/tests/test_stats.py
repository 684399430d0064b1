import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])


class SpanTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)

    def test_self_times(self):
        spans = [
            {"id": 1, "parent": -1, "start_ns": 0, "end_ns": 100},
            {"id": 2, "parent": 1, "start_ns": 10, "end_ns": 40},
            {"id": 3, "parent": 1, "start_ns": 30, "end_ns": 60},   # overlaps 2
            {"id": 4, "parent": 3, "start_ns": 35, "end_ns": 45},
            {"id": 5, "parent": 1, "start_ns": 90, "end_ns": 120},  # outlives 1
        ]
        self.assertEqual(stats.self_times(spans), {1: 100 - 50 - 10, 2: 30, 3: 20, 4: 10, 5: 30})

    def test_self_times_sum_to_root(self):
        spans = [
            {"id": 1, "parent": -1, "start_ns": 0, "end_ns": 50},
            {"id": 2, "parent": 1, "start_ns": 0, "end_ns": 20},
            {"id": 3, "parent": 1, "start_ns": 20, "end_ns": 50},
            {"id": 4, "parent": 3, "start_ns": 25, "end_ns": 30},
        ]
        self.assertEqual(sum(stats.self_times(spans).values()), 50)


if __name__ == "__main__":
    unittest.main()
