import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class OrderStatistics(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [0.9, 1.3, 1.1, 0.7, 2.5, 1.0, 1.2, 0.8, 1.4, 1.05]
        q = statistics.quantiles(xs, n=4)
        self.assertEqual(stats.quartiles(xs), (q[0], q[2]))

    def test_single_sample_is_its_own_quartiles(self):
        self.assertEqual(stats.quartiles([1.5]), (1.5, 1.5))

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(11))  # 0..10
        self.assertEqual(stats.percentile(xs, 0.5), 5)
        self.assertEqual(stats.percentile(xs, 0.9), 9)
        self.assertAlmostEqual(stats.percentile([1.0, 2.0], 0.25), 1.25)
        self.assertEqual(stats.percentile([7.0], 0.9), 7.0)

    def test_percentile_of_nothing_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_betainc_known_values(self):
        self.assertAlmostEqual(stats.betainc(2, 3, 0.4), 0.5248)
        self.assertAlmostEqual(stats.betainc(0.5, 0.5, 0.5), 0.5)
        self.assertEqual(stats.betainc(3, 4, 0.0), 0.0)
        self.assertEqual(stats.betainc(3, 4, 1.0), 1.0)

    def test_hd_quantile(self):
        self.assertEqual(stats.hd_quantile([0.3], 0.9), 0.3)
        self.assertAlmostEqual(stats.hd_quantile([2.0] * 7, 0.9), 2.0)
        self.assertAlmostEqual(stats.hd_quantile([1, 2, 3], 0.5), 2.0)  # symmetric
        big = [i / 1000 for i in range(1001)]
        self.assertAlmostEqual(stats.hd_quantile(big, 0.9), 0.9, places=3)
        with self.assertRaises(ValueError):
            stats.hd_quantile([], 0.5)

    def test_hd_quantile_varies_less_on_clustered_latencies(self):
        # a pass of 9 ops, each its own latency cluster, measured 6 times
        import random
        rng = random.Random(7)
        ops = [0.12, 0.2, 0.22, 0.25, 0.3, 0.33, 0.38, 0.45, 0.5]

        def spread(est):
            vals = []
            for _ in range(300):
                xs = [t * rng.lognormvariate(0, 0.08) for t in ops for _ in range(6)]
                vals.append(est(xs, 0.9))
            return statistics.pstdev(vals)

        self.assertLess(spread(stats.hd_quantile), spread(stats.percentile))

    def test_highest_supported_percentile_keeps_ten_samples_beyond(self):
        self.assertAlmostEqual(stats.highest_supported_percentile(100), 0.9)
        self.assertAlmostEqual(stats.highest_supported_percentile(20), 0.5)
        self.assertAlmostEqual(stats.highest_supported_percentile(1000), 0.99)
        self.assertEqual(stats.highest_supported_percentile(10), 0.0)
        self.assertEqual(stats.highest_supported_percentile(5), 0.0)
        self.assertEqual(stats.highest_supported_percentile(0), 0.0)
        # p90 is supported from exactly 100 samples on
        self.assertLess(stats.highest_supported_percentile(99), 0.9)


class Intervals(unittest.TestCase):
    def test_union_merges_overlapping_nested_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (6, 6.5), (3, 4)]),
                         [(0, 4), (5, 7)])

    def test_union_drops_empty_intervals(self):
        self.assertEqual(stats.union([(2, 2), (3, 1)]), [])

    def test_covered_counts_overlap_once_and_clips_to_the_window(self):
        jobs = [(0, 10), (5, 15), (20, 30)]
        self.assertEqual(stats.covered(jobs, 0, 40), 25)
        self.assertEqual(stats.covered(jobs, 8, 25), 12)  # 8..15 and 20..25
        self.assertEqual(stats.covered([], 0, 10), 0)

    def test_outside_jobs_is_wall_minus_covered(self):
        # an op from 100 to 200 ms with two overlapping jobs and one that
        # starts inside and ends after it
        jobs = [(110, 130), (120, 150), (190, 260)]
        self.assertEqual(100 - stats.covered(jobs, 100, 200), 50)


if __name__ == "__main__":
    unittest.main()
