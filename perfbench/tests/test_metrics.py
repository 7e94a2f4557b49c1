"""Unit tests of the metric reductions. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def span(i, name, parent, start, end, jobs=()):
    return {"id": i, "name": name, "parent": parent, "op": 0, "start_us": start,
            "end_us": end, "counters": {"job_intervals": [list(j) for j in jobs]}}


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(10))
        self.assertEqual(metrics.tail_percentile(11), 9)  # rank 1, 10 beyond
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)

    def test_rule_holds_for_every_size(self):
        for n in range(11, 400):
            p = metrics.tail_percentile(n)
            rank = -(-p * n // 100)
            self.assertGreaterEqual(n - rank, 10)
            if p < 99:  # one more percent would leave fewer than ten
                self.assertLess(n - (-(-(p + 1) * n // 100)), 10)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile([3.0], 99), 3.0)


class SelfTime(unittest.TestCase):
    def test_subtracts_children(self):
        spans = [span(0, "day", -1, 0, 100),
                 span(1, "load", 0, 10, 40),
                 span(2, "validate", 0, 50, 70)]
        self.assertEqual(metrics.self_times(spans), {0: 50, 1: 30, 2: 20})

    def test_overlapping_children_count_once(self):
        spans = [span(0, "pass", -1, 0, 100),
                 span(1, "queries", 0, 10, 60),
                 span(2, "queries", 0, 40, 80)]
        self.assertEqual(metrics.self_times(spans)[0], 30)

    def test_grandchildren_belong_to_their_parent(self):
        spans = [span(0, "run", -1, 0, 100),
                 span(1, "day", 0, 0, 90),
                 span(2, "load", 1, 10, 60)]
        selfs = metrics.self_times(spans)
        self.assertEqual((selfs[0], selfs[1], selfs[2]), (10, 40, 50))


class Gap(unittest.TestCase):
    def test_time_without_a_running_job(self):
        # span 0..100 ms; jobs 10-30 and 20-50 overlap, 90-120 is clipped
        s = span(0, "load", -1, 0, 100_000, jobs=[(10, 30), (20, 50), (90, 120)])
        self.assertAlmostEqual(metrics.gap_ms(s), 100 - 40 - 10)


if __name__ == "__main__":
    unittest.main()
