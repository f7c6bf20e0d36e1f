"""Tests for the percentile and verdict arithmetic of compare.py.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402


class Quartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, med, q3 = compare.quartiles(xs)
        self.assertEqual([q1, med, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(med, statistics.median(xs))

    def test_exclusive_method_values(self):
        # n=4, exclusive: positions (n+1)p = 1.25, 2.5, 3.75
        self.assertEqual(compare.quartiles([1, 2, 3, 4]), (1.25, 2.5, 3.75))

    def test_single_value(self):
        self.assertEqual(compare.quartiles([7.0]), (7.0, 7.0, 7.0))


class PairWins(unittest.TestCase):
    def test_ties_count_for_neither(self):
        self.assertEqual(compare.pair_win_share([1, 2, 3, 4], [2, 2, 2, 5], "higher"), 0.5)

    def test_lower_is_better(self):
        self.assertEqual(compare.pair_win_share([5, 5], [4, 6], "lower"), 0.5)

    def test_no_pairs(self):
        self.assertEqual(compare.pair_win_share([], [], "higher"), 0.0)


class Verdicts(unittest.TestCase):
    parent = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.05, 9.95]

    def test_improved_needs_nine_tenths_and_beyond_spread(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "higher", 0.1), "improved")

    def test_consistent_but_tiny_gain_is_not_improved(self):
        # wins every pair, but the gain is inside the parent's quartile spread
        change = [x + 0.01 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "higher", 0.1), "unchanged")

    def test_worse_beyond_bound(self):
        change = [x * 0.8 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "higher", 0.1), "worse")

    def test_worse_within_bound_is_unchanged(self):
        change = [x * 0.95 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "higher", 0.1), "unchanged")

    def test_lower_is_better_direction(self):
        change = [x * 0.7 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, "lower", 0.1), "improved")
        self.assertEqual(compare.verdict(change, self.parent, "lower", 0.1), "worse")

    def test_spread_wider_than_bound_is_unresolved(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 7.0, 13.0]
        change = [x * 0.97 for x in noisy]
        self.assertEqual(compare.verdict(noisy, change, "higher", 0.1), "unresolved")

    def test_wide_spread_still_resolves_when_every_run_is_better(self):
        noisy = [5.0, 15.0, 8.0, 12.0, 6.0, 14.0, 9.0, 11.0, 7.0, 13.0]
        change = [20.0 + i for i in range(10)]
        self.assertEqual(compare.verdict(noisy, change, "higher", 0.1), "improved")

    def test_per_layer_without_bound(self):
        self.assertEqual(compare.verdict([10] * 10, [12] * 10, "lower", None), "worse")
        self.assertEqual(compare.verdict([10] * 10, [10] * 10, "lower", None), "unchanged")
        self.assertEqual(compare.verdict([10] * 10, [8] * 10, "lower", None), "improved")


class Pairing(unittest.TestCase):
    def test_pairs_by_common_seed(self):
        p, c = compare.paired([(1, 10), (2, 20), (3, 30)], [(3, 31), (1, 11)])
        self.assertEqual((p, c), ([10, 30], [11, 31]))

    def test_pairs_by_order_without_common_seeds(self):
        self.assertEqual(compare.paired([(1, 10), (2, 20)], [(5, 11)]), ([10], [11]))


class Settings(unittest.TestCase):
    def rec(self, cores, data):
        return {"cores": cores, "provenance": {"data": data}}

    def test_mixed_core_counts_refused(self):
        with self.assertRaises(SystemExit):
            compare.setting([self.rec(4, "d"), self.rec(8, "d")])

    def test_same_setting(self):
        self.assertEqual(compare.setting([self.rec(4, "d"), self.rec(4, "d")]), (4, "d"))


if __name__ == "__main__":
    unittest.main()
