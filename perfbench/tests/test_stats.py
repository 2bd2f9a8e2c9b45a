import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from harness import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7.0], 50), 7.0)

    def test_failures_are_misses(self):
        # a failed operation enters as inf and can only push percentiles up
        self.assertEqual(stats.percentile([1.0, 2.0, math.inf], 50), 2.0)
        self.assertEqual(stats.percentile([1.0, math.inf, math.inf], 50), math.inf)


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.beyond(100, 90.0), 10)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(40)))[0], 75.0)
        self.assertEqual(stats.tail(list(range(20)))[0], 50.0)

    def test_every_choice_keeps_ten_beyond(self):
        for n in range(20, 3000, 7):
            p, _ = stats.tail(list(range(n)))
            self.assertGreaterEqual(stats.beyond(n, p), stats.MIN_BEYOND, n)

    def test_too_few_samples_fall_back_to_median(self):
        p, v = stats.tail([3.0, 1.0, 2.0])
        self.assertEqual((p, v), (50.0, 2.0))


class SpreadTest(unittest.TestCase):
    def test_quartiles_as_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.0, 10.5, 10.2, 9.8, 10.1, 9.9, 10.3, 10.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / statistics.median(xs))

    def test_known_values(self):
        # quantiles([1..8], n=4) (exclusive method) = 2.25, 4.5, 6.75
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8]), 4.5 / 4.5)


if __name__ == "__main__":
    unittest.main()
