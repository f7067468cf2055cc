"""Self-time arithmetic and the tail-percentile rule."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        # 30 samples 1..30: the highest percentile with >= 10 samples beyond
        # it is the 20th value (exactly 10 larger values), percentile 66.7
        v, p, n = stats.tail(list(range(30, 0, -1)))
        self.assertEqual(v, 20)
        self.assertEqual(n, 30)
        self.assertAlmostEqual(p, 100 * 20 / 30)
        self.assertEqual(sum(1 for x in range(1, 31) if x > v), 10)

    def test_eleven_samples_is_the_smallest_that_qualifies(self):
        self.assertEqual(stats.tail(range(1, 12)), (1, 100 * 1 / 11, 11))

    def test_too_few_samples_report_the_maximum_at_p100(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(0, 4), (2, 6)], lo=1, hi=5), 4)
        self.assertEqual(stats.union_length([(5, 6)], lo=0, hi=3), 0)

    def test_span_minus_children_and_jobs(self):
        spans = [
            {"id": 0, "parent": -1, "name": "bench.query", "start": 0, "end": 100},
            {"id": 1, "parent": 0, "name": "queries.build", "start": 10, "end": 40},
            {"id": 2, "parent": 0, "name": "queries.exec", "start": 50, "end": 90},
        ]
        # build launched one job (15..25); exec two overlapping jobs (55..70,
        # 60..80) and one that outlives the span (85..95, clipped to 90)
        jobs = {1: [(15, 25)], 2: [(55, 70), (60, 80), (85, 95)]}
        self_t, job_t = stats.self_times(spans, jobs)
        self.assertEqual(self_t[0], 100 - 30 - 40)
        self.assertEqual(self_t[1], 30 - 10)
        self.assertEqual(self_t[2], 40 - (25 + 5))
        self.assertEqual(job_t, {0: 0, 1: 10, 2: 30})
        # the layers' self times and the job-covered time partition the root
        self.assertEqual(sum(self_t.values()) + sum(job_t.values()), 100)


if __name__ == "__main__":
    unittest.main()
