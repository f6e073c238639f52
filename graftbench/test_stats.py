"""Tests for the benchmark's own statistics: python3 -m unittest discover graftbench"""
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile([7], 90), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)   # 10 beyond p90
        self.assertEqual(stats.tail_percentile(99), 75)    # 9.9 beyond p90
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))


class FailedFracTest(unittest.TestCase):
    def test_share(self):
        self.assertEqual(stats.failed_frac(200, 0), 0.0)
        self.assertEqual(stats.failed_frac(200, 5), 0.025)

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(stats.failed_frac(0, 0), 1.0)


class UnionTest(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_ms([(20, 25), (0, 10), (2, 3)]), 15)
        self.assertEqual(stats.union_ms([]), 0)

    def test_touching_and_contained(self):
        self.assertEqual(stats.union_ms([(0, 10), (10, 20)]), 20)
        self.assertEqual(stats.union_ms([(0, 100), (10, 20), (30, 40)]), 100)

    def test_clip(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15)], clip=(8, 12)), 4)
        self.assertEqual(stats.union_ms([(0, 5)], clip=(6, 9)), 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_and_leaves(self):
        spans = [
            {"id": 0, "parent": -1, "t0": 0, "t1": 100},
            {"id": 1, "parent": 0, "t0": 10, "t1": 40},
            {"id": 2, "parent": 0, "t0": 50, "t1": 90},
        ]
        # a stage inside span 2, and one overlapping span 1's end: each is
        # charged to the innermost span holding its start
        leaves = [(60, 70), (30, 45)]
        got = stats.self_times(spans, leaves)
        self.assertEqual(got[0], 100 - 30 - 40)
        self.assertEqual(got[1], 30 - 10)   # (30, 45) clipped to (30, 40)
        self.assertEqual(got[2], 40 - 10)

    def test_overlapping_children_count_once(self):
        spans = [{"id": 0, "parent": -1, "t0": 0, "t1": 10}]
        self.assertEqual(stats.self_times(spans, [(1, 5), (3, 6)])[0], 5)


class SlopeTest(unittest.TestCase):
    def test_exact_line(self):
        xs = [1, 2, 3, 4, 5]
        self.assertAlmostEqual(stats.slope(xs, [3 + 2 * x for x in xs]), 2.0)

    def test_noisy_line(self):
        xs = [1, 2, 3, 4]
        self.assertAlmostEqual(stats.slope(xs, [1, 3, 2, 4]), 0.8)

    def test_degenerate(self):
        self.assertEqual(stats.slope([2, 2, 2], [1, 5, 9]), 0.0)
        self.assertEqual(stats.slope([1], [1]), 0.0)


if __name__ == "__main__":
    unittest.main()
