"""Tests of the benchmark's statistics.

Run from the repository root: python3 -m unittest discover -s loadbench
"""

import unittest

import stats


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 41))  # 1..40
        self.assertEqual(stats.percentile(xs, 0.75), 30)
        self.assertEqual(stats.percentile(list(reversed(xs)), 0.75), 30)
        self.assertEqual(stats.percentile(xs, 0.5), 20)

    def test_ten_beyond_rule(self):
        # p75 needs ten samples beyond it: 40 samples do, 39 do not
        self.assertEqual(stats.beyond(40, 0.75), 10)
        self.assertTrue(stats.supported(40, 0.75))
        self.assertEqual(stats.beyond(39, 0.75), 9)
        self.assertFalse(stats.supported(39, 0.75))
        self.assertIsNone(stats.percentile(list(range(39)), 0.75))
        # the median needs 20
        self.assertTrue(stats.supported(20, 0.5))
        self.assertFalse(stats.supported(19, 0.5))
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))

    def test_quantile_range(self):
        with self.assertRaises(ValueError):
            stats.rank(10, 1.0)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_leaf_self_time_is_its_duration(self):
        got = stats.self_times([self.span(1, 0, 0, 10)])
        self.assertEqual(got, {1: 10})

    def test_disjoint_children(self):
        got = stats.self_times([
            self.span(1, 0, 0, 100),
            self.span(2, 1, 10, 30),
            self.span(3, 1, 50, 60),
        ])
        self.assertEqual(got[1], 70)
        self.assertEqual(got[2], 20)
        self.assertEqual(got[3], 10)

    def test_overlapping_children_count_once(self):
        got = stats.self_times([
            self.span(1, 0, 0, 100),
            self.span(2, 1, 10, 50),
            self.span(3, 1, 40, 70),   # overlaps 2 on [40, 50]
            self.span(4, 1, 20, 30),   # nested inside 2
        ])
        self.assertEqual(got[1], 100 - 60)

    def test_children_are_clipped_to_the_parent(self):
        got = stats.self_times([
            self.span(1, 0, 10, 20),
            self.span(2, 1, 5, 15),
            self.span(3, 1, 18, 30),
        ])
        self.assertEqual(got[1], 10 - 5 - 2)

    def test_grandchildren_do_not_reduce_the_root_twice(self):
        got = stats.self_times([
            self.span(1, 0, 0, 100),
            self.span(2, 1, 0, 50),
            self.span(3, 2, 10, 20),
        ])
        self.assertEqual(got, {1: 50, 2: 40, 3: 10})


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        m, q1, q3, rel = stats.spread([10, 11, 12, 13, 14, 15, 16, 17, 18, 19])
        self.assertEqual(m, 14.5)
        self.assertAlmostEqual(q1, 11.75)
        self.assertAlmostEqual(q3, 17.25)
        self.assertAlmostEqual(rel, 5.5 / 14.5)


if __name__ == "__main__":
    unittest.main()
