"""Tests for perfbench/stats.py on fixed synthetic inputs.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class PercentileRule(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(range(1, 200), 0.95))  # 199: 9 beyond
        self.assertEqual(stats.percentile(range(1, 201), 0.95), 190)  # 200: 10 beyond

    def test_p99_needs_a_thousand(self):
        self.assertIsNone(stats.percentile(range(999), 0.99))
        self.assertEqual(stats.percentile(range(1, 1001), 0.99), 990)

    def test_median_always_reported(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 0.5), 2.0)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0.5), 2.5)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_nearest_rank_ignores_order(self):
        xs = list(range(400, 0, -1))
        self.assertEqual(stats.percentile(xs, 0.95), 380)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, a, b):
        return {"id": i, "parent": parent, "start": a, "end": b}

    def test_overlapping_children_merged(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60),  # overlaps child 2 by 10
                 self.span(4, 1, 80, 90)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)
        self.assertEqual(st[2], 30)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, 0, 50), self.span(2, 1, 40, 70)]
        self.assertEqual(stats.self_times(spans)[1], 40)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 50), self.span(3, 2, 0, 50)]
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (50, 0, 50))


class LockWait(unittest.TestCase):
    def test_commit_in_flight_at_arrival(self):
        commits = [(0, 100), (200, 300)]
        statements = [(50, 150),   # waits out the first commit's last 50
                      (120, 180),  # no commit in flight
                      (210, 250),  # fully inside the second commit
                      (190, 260)]  # arrived before the second commit began
        self.assertEqual(stats.lock_wait(statements, commits), [50, 0, 40, 0])

    def test_arrival_at_commit_end_does_not_wait(self):
        self.assertEqual(stats.lock_wait([(100, 120)], [(0, 100)]), [0])


if __name__ == "__main__":
    unittest.main()
