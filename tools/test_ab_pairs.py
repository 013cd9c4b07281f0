"""Tests of the pair rule in ab_pairs.py.

Run from the repository root: python3 -m unittest discover -s tools
"""

import unittest

import ab_pairs


class WinsNeededTest(unittest.TestCase):
    def test_nine_of_ten(self):
        self.assertEqual(ab_pairs.wins_needed(10), 9)
        self.assertEqual(ab_pairs.wins_needed(20), 18)

    def test_rounds_up(self):
        self.assertEqual(ab_pairs.wins_needed(11), 10)  # 9.9 pairs
        self.assertEqual(ab_pairs.wins_needed(12), 11)  # 10.8 pairs


class OutcomesTest(unittest.TestCase):
    def test_lower_is_better(self):
        self.assertEqual(ab_pairs.outcomes([5, 5, 5], [4, 5, 6], "lower"), (1, 1, 1))

    def test_higher_is_better(self):
        self.assertEqual(ab_pairs.outcomes([5, 5, 5], [4, 5, 6], "higher"), (1, 1, 1))
        self.assertEqual(ab_pairs.outcomes([1, 2], [3, 4], "higher"), (2, 0, 0))

    def test_unpaired_is_an_error(self):
        with self.assertRaises(ValueError):
            ab_pairs.outcomes([1, 2], [1], "lower")


class VerdictTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]

    def test_clear_gain_is_accepted(self):
        v = ab_pairs.verdict(self.parent, [x - 1.0 for x in self.parent], "lower")
        self.assertEqual((v["wins"], v["wins_needed"]), (10, 9))
        self.assertAlmostEqual(v["gain"], 1.0)
        self.assertTrue(v["gain_accepted"])

    def test_eight_wins_of_ten_fail(self):
        change = [x - 1.0 for x in self.parent[:8]] + [x + 1.0 for x in self.parent[8:]]
        v = ab_pairs.verdict(self.parent, change, "lower")
        self.assertEqual((v["wins"], v["losses"]), (8, 2))
        self.assertFalse(v["gain_accepted"])

    def test_gain_within_the_parent_iqr_fails(self):
        # every pair wins, but by less than the parent's quartile spread
        v = ab_pairs.verdict(self.parent, [x - 0.05 for x in self.parent], "lower")
        self.assertEqual(v["wins"], 10)
        self.assertLess(v["gain"], v["parent_iqr"])
        self.assertFalse(v["gain_accepted"])

    def test_ties_are_not_wins(self):
        v = ab_pairs.verdict([3.0] * 10, [3.0] * 9 + [2.0], "lower")
        self.assertEqual((v["wins"], v["ties"]), (1, 9))
        self.assertFalse(v["gain_accepted"])

    def test_constant_metric_gain_beats_zero_iqr(self):
        v = ab_pairs.verdict([579.7] * 10, [496.0] * 10, "lower")
        self.assertEqual(v["parent_iqr"], 0.0)
        self.assertTrue(v["gain_accepted"])

    def test_quartiles_match_statistics_quantiles(self):
        q1, med, q3 = ab_pairs.quartiles([1, 2, 3, 4, 5, 6, 7, 8])
        self.assertEqual((q1, med, q3), (2.25, 4.5, 6.75))


if __name__ == "__main__":
    unittest.main()
