"""Self-tests of the benchmark's arithmetic against hand-computed cases.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class StatsTest(unittest.TestCase):
    def test_percentile_nearest_rank(self):
        xs = [15, 20, 35, 40, 50]
        self.assertEqual(stats.percentile(xs, 5), 15)
        self.assertEqual(stats.percentile(xs, 30), 20)
        self.assertEqual(stats.percentile(xs, 40), 20)
        self.assertEqual(stats.percentile(xs, 50), 35)
        self.assertEqual(stats.percentile(xs, 100), 50)
        self.assertEqual(stats.percentile(list(range(1, 1001)), 99), 990)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])

    def test_union_of_job_intervals(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(20, 25), (0, 10), (2, 3)]), 15)
        self.assertEqual(stats.union_length([(0, 5), (5, 7)]), 7)
        # driver-only time: 100 ms of wall, jobs cover 20 of it
        self.assertEqual(100 - stats.union_length([(10, 20), (15, 25), (90, 95)]), 80)

    def test_open_loop_lateness(self):
        # due every 10 ms; the second send stalls 25 ms, the third queues
        # behind it and goes out 20 ms late
        log = {"sched_ms": [0, 10, 20, 30], "send_ms": [0.5, 35, 40, 30.5],
               "end_ms": [1.5, 38, 41, 31.5]}
        latency, lateness = stats.open_loop(log)
        self.assertEqual(lateness, [0.5, 25, 20, 0.5])
        self.assertEqual(latency, [1.5, 28, 21, 1.5])

if __name__ == "__main__":
    unittest.main()
