"""Tests for the benchmark's statistics and output encoding.

Run: python3 -m unittest discover -s benchmark/tests
"""
import datetime
import decimal
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_wanted_percentile_when_the_sample_supports_it(self):
        # 1000 samples: 10 lie beyond p99
        self.assertEqual(stats.tail_percentile(1000, 99), 99)
        self.assertEqual(stats.tail_percentile(100, 90), 90)

    def test_falls_back_to_the_highest_supported_percentile(self):
        # 40 samples: at most the top 10 may lie beyond, so p75
        self.assertAlmostEqual(stats.tail_percentile(40, 90), 75.0)
        self.assertAlmostEqual(stats.tail_percentile(200, 99), 95.0)

    def test_never_below_the_median(self):
        self.assertEqual(stats.tail_percentile(12, 90), 50.0)
        self.assertEqual(stats.tail_percentile(1, 99), 50.0)

    def test_at_least_ten_samples_beyond_the_reported_tail(self):
        for n in range(20, 400, 7):
            values = list(range(n))
            p, t = stats.tail(values, 99)
            self.assertGreaterEqual(sum(1 for v in values if v > t), 10 - 1e-9, n)

    def test_quantile_interpolates(self):
        self.assertEqual(stats.quantile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.quantile([5], 99), 5)
        self.assertEqual(stats.quantile([1, 2, math.inf], 100), math.inf)
        self.assertEqual(stats.quantile([1, math.inf, math.inf], 75), math.inf)


class LatencyFromDue(unittest.TestCase):
    def test_counts_the_wait_before_sending(self):
        # due at 100, sent at 150 behind a stall, answered at 160
        self.assertEqual(stats.latency_from_due(100.0, 160.0), 60.0)

    def test_a_request_never_answered_misses_every_limit(self):
        self.assertEqual(stats.latency_from_due(100.0, -1.0), math.inf)


class Backlog(unittest.TestCase):
    def test_steady_queue_is_not_growing(self):
        samples = [(t * 50.0, t % 3) for t in range(40)]
        self.assertFalse(stats.backlog_growing(samples, slack=4))

    def test_linearly_growing_queue(self):
        samples = [(t * 50.0, t) for t in range(40)]
        self.assertTrue(stats.backlog_growing(samples, slack=4))

    def test_queue_that_drains_by_the_end_is_not_growing(self):
        samples = [(t * 50.0, 10 if 10 < t < 20 else 0) for t in range(40)]
        self.assertFalse(stats.backlog_growing(samples, slack=4))


class MaxRate(unittest.TestCase):
    def step(self, rate, lat, backlog=((0, 0), (1, 0), (2, 0), (3, 0))):
        return {"rate": rate, "latencies": lat, "backlog": list(backlog)}

    def test_highest_rate_meeting_the_limit(self):
        steps = [self.step(100, [5.0] * 100), self.step(200, [8.0] * 100),
                 self.step(400, [5.0] * 90 + [500.0] * 10 + [600.0] * 5)]
        self.assertEqual(stats.max_rate(steps, 100.0), 200)

    def test_a_failed_request_misses_the_limit(self):
        steps = [self.step(100, [5.0] * 1000),
                 self.step(200, [5.0] * 980 + [math.inf] * 20)]
        self.assertEqual(stats.max_rate(steps, 100.0), 100)

    def test_a_growing_backlog_fails_the_step(self):
        growing = [(t, t) for t in range(40)]
        steps = [self.step(100, [5.0] * 100),
                 self.step(200, [5.0] * 100, backlog=growing)]
        self.assertEqual(stats.max_rate(steps, 100.0), 100)

    def test_a_higher_rate_after_a_miss_does_not_count(self):
        steps = [self.step(100, [500.0] * 100), self.step(200, [5.0] * 100)]
        self.assertEqual(stats.max_rate(steps, 100.0), 0.0)


class Spread(unittest.TestCase):
    def test_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]),
                               (8.25 - 2.75) / 5.5)


class Encoding(unittest.TestCase):
    def test_numbers(self):
        self.assertEqual(oracle.enc(3), "I3")
        self.assertEqual(oracle.enc(3.0), "I3")
        self.assertEqual(oracle.enc(-0.0), "I0")
        self.assertEqual(oracle.enc(decimal.Decimal("4.00")), "I4")
        self.assertEqual(oracle.enc(0.5), "D3fe0000000000000")
        self.assertEqual(oracle.enc(-0.5), "Dbfe0000000000000")
        self.assertEqual(oracle.enc(float("nan")), "DNaN")
        self.assertEqual(oracle.enc(2.0 ** 60), "D43b0000000000000")

    def test_other_types(self):
        self.assertEqual(oracle.enc(None), "N")
        self.assertEqual(oracle.enc(True), "B1")
        self.assertEqual(oracle.enc("hé"), "S2:hé")
        self.assertEqual(oracle.enc(datetime.datetime(1970, 1, 1, 0, 0, 1)), "T1000000")
        self.assertEqual(oracle.enc(datetime.date(1970, 1, 3)), "Y2")
        self.assertEqual(oracle.enc([1, None, 2.5]), "[I1,N,D4004000000000000]")

    def test_fingerprint_ignores_row_and_column_order(self):
        a = oracle.fingerprint(["b", "a"], [(1, "x"), (2, "y")])
        b = oracle.fingerprint(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a[0], 2)
        self.assertNotEqual(a, oracle.fingerprint(["a", "b"], [("y", 2), ("x", 3)]))


if __name__ == "__main__":
    unittest.main()
