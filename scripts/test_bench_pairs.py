#!/usr/bin/env python3
"""Pins the two verdicts of bench_pairs.py on fixed numbers.

Run: python3 scripts/test_bench_pairs.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_pairs import claim_holds, no_regression  # noqa: E402

# parent median 10.0, quartiles 9.75 and 10.25: IQR 0.5, 5% of the median
PARENT = [9.5, 9.75, 10.0, 10.25, 10.5]


class NoRegressionTest(unittest.TestCase):

    def test_holds_when_the_median_is_worse_by_no_more_than_the_bound(self):
        # +20% and exactly +25% against a bound of 0.25
        self.assertEqual(no_regression(PARENT, [12.0] * 5, "lower", 0.25),
                         "holds")
        self.assertEqual(no_regression(PARENT, [12.5] * 5, "lower", 0.25),
                         "holds")

    def test_fails_when_the_median_is_worse_by_more_than_the_bound(self):
        self.assertEqual(no_regression(PARENT, [12.6] * 5, "lower", 0.25),
                         "fails")

    def test_better_means_higher_flips_the_direction(self):
        self.assertEqual(no_regression(PARENT, [7.6] * 5, "higher", 0.25),
                         "holds")
        self.assertEqual(no_regression(PARENT, [7.4] * 5, "higher", 0.25),
                         "fails")
        self.assertEqual(no_regression(PARENT, [12.6] * 5, "higher", 0.25),
                         "holds")

    def test_unresolved_when_the_parent_spread_is_wider_than_the_bound(self):
        # IQR 0.5 is 5% of the median: wider than a bound of 0.04
        self.assertEqual(no_regression(PARENT, [10.0] * 5, "lower", 0.04),
                         "unresolved")
        # ... also when the change's median is far worse
        self.assertEqual(no_regression(PARENT, [20.0] * 5, "lower", 0.04),
                         "unresolved")

    def test_resolved_when_every_change_run_beats_every_parent_run(self):
        self.assertEqual(no_regression(PARENT, [9.0, 9.1, 9.4], "lower", 0.04),
                         "holds")
        # one change run ties the best parent run: still unresolved
        self.assertEqual(no_regression(PARENT, [9.0, 9.1, 9.5], "lower", 0.04),
                         "unresolved")
        self.assertEqual(no_regression(PARENT, [11.0, 12.0], "higher", 0.04),
                         "holds")


class ClaimRuleTest(unittest.TestCase):

    def test_holds_with_9_of_10_wins_and_a_gap_beyond_the_parent_iqr(self):
        parent = [10.0] * 10
        change = [8.0] * 9 + [11.0]
        holds, wins, gap, iqr = claim_holds(parent, change, "lower")
        self.assertEqual((holds, wins, gap, iqr), (True, 9, 2.0, 0.0))

    def test_fails_with_8_of_10_wins(self):
        change = [8.0] * 8 + [11.0] * 2
        self.assertFalse(claim_holds([10.0] * 10, change, "lower")[0])

    def test_fails_when_the_gap_is_inside_the_parent_iqr(self):
        # every pair won, but the gap 0.4 is inside the parent's IQR 0.5
        holds, wins, gap, iqr = claim_holds(
            PARENT, [9.4, 9.6, 9.7, 9.6, 9.8], "lower")
        self.assertEqual((holds, wins, iqr), (False, 5, 0.5))
        self.assertAlmostEqual(gap, 0.4)


if __name__ == "__main__":
    unittest.main()
