"""Tests of the benchmark's own metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


class MedianAndTail(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_tail_leaves_exactly_ten_samples_beyond(self):
        xs = list(range(1, 1001))  # 1..1000
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 1000)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(value, 990)
        self.assertAlmostEqual(pct, 99.0)

    def test_tail_percentile_follows_the_sample_count(self):
        value, pct, n = stats.tail(list(range(100)))
        self.assertEqual((value, n), (89, 100))
        self.assertAlmostEqual(pct, 90.0)

    def test_tail_with_too_few_samples_falls_back_to_median(self):
        value, pct, n = stats.tail([5, 1, 9])
        self.assertEqual((value, pct, n), (5, 50.0, 3))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        with self.assertRaises(ValueError):
            stats.geomean([0, 1])


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_the_scheduled_send_time(self):
        # 10 ms schedule; the system stalls until t=100, then answers all
        # queued samples at once: each is charged its full wait since due
        received = {i: 100.0 for i in range(5)}
        lat = stats.open_loop_latencies(0.0, 10.0, received)
        self.assertEqual([lat[i] for i in range(5)], [100.0, 90.0, 80.0, 70.0, 60.0])

    def test_a_late_generator_does_not_hide_the_stall(self):
        # sample 3 was due at 30 but only sent at 95 (generator lag):
        # latency is measured from 30, not from 95
        lat = stats.open_loop_latencies(0.0, 10.0, {3: 100.0})
        self.assertEqual(lat[3], 70.0)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time_once(self):
        spans = [
            (0, -1, "query", "queries", 0.0, 100.0),
            (1, 0, "job", "spark", 10.0, 40.0),
            (2, 0, "job", "spark", 30.0, 60.0),   # overlaps job 1
            (3, 1, "stage", "spark", 10.0, 20.0),
        ]
        s = stats.self_times(spans)
        self.assertAlmostEqual(s["queries"], 100.0 - 50.0)   # children cover 10..60
        self.assertAlmostEqual(s["spark"], (30 - 10) + 30 + 10)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [(0, -1, "t", "a", 0.0, 10.0), (1, 0, "c", "b", 5.0, 20.0)]
        self.assertAlmostEqual(stats.self_times(spans)["a"], 5.0)


class RunValidity(unittest.TestCase):
    def test_run_is_invalid_when_generator_lag_p99_exceeds_bound(self):
        ok = [1.0] * 1000
        self.assertTrue(stats.run_valid(ok)[0])
        late = [1.0] * 900 + [stats.GEN_LAG_BOUND_MS + 1] * 100
        valid, lag = stats.run_valid(late)
        self.assertFalse(valid)
        self.assertGreater(lag, stats.GEN_LAG_BOUND_MS)

    def test_no_generator_is_valid(self):
        self.assertEqual(stats.run_valid([]), (True, 0.0))


if __name__ == "__main__":
    unittest.main()
