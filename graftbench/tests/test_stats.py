"""Self-tests for the benchmark's order statistics and span arithmetic.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 20), 1)
        self.assertEqual(stats.percentile(xs, 21), 2)
        self.assertEqual(stats.percentile(xs, 100), 5)
        self.assertEqual(stats.percentile(xs, 0), 1)

    def test_even_count_takes_lower_middle(self):
        self.assertEqual(stats.percentile([10, 20, 30, 40], 50), 20)

    def test_single_sample(self):
        self.assertEqual(stats.percentile([7.5], 50), 7.5)


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(0))
        self.assertIsNone(stats.tail_percentile(14))
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(10000), 99)

    def test_chosen_percentile_leaves_ten_beyond(self):
        for n in range(20, 400):
            p = stats.tail_percentile(n)
            self.assertGreaterEqual(n - stats.rank(p, n), 10, n)
            if p < 99:
                self.assertLess(n - stats.rank(p + 1, n), 10, n)

    def test_custom_minimum(self):
        self.assertEqual(stats.tail_percentile(10, min_beyond=1), 90)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.1, 9.4, 2.2, 7.7, 5.0, 6.3, 1.8, 8.8, 4.4, 6.9]
        self.assertEqual(stats.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))

    def test_exclusive_method_by_hand(self):
        # 1..10: positions (n+1)/4 = 2.75, 5.5 and 8.25
        self.assertEqual(stats.quartiles(list(range(1, 11))), (2.75, 5.5, 8.25))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread(list(range(1, 11))), 5.5 / 5.5)
        self.assertEqual(stats.spread([4.0] * 10), 0.0)


def span(i, parent, layer, start, end):
    return {"id": i, "op": 1, "parent": parent, "layer": layer,
            "name": layer, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10.0)

    def test_child_time_is_subtracted_once(self):
        spans = [span(1, 0, "operation", 0, 100),
                 span(2, 1, "catalog", 0, 30),
                 span(3, 1, "action", 30, 100),
                 span(4, 3, "scheduler", 40, 70),
                 span(5, 3, "scheduler", 60, 90),  # overlaps its sibling
                 span(6, 2, "scheduler", 10, 20)]
        got = stats.self_times(spans)
        self.assertEqual(got["operation"], 0)
        self.assertEqual(got["catalog"], 20)
        self.assertEqual(got["action"], 20)  # 70 minus the union 40..90
        self.assertEqual(got["scheduler"], 30 + 30 + 10)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [span(1, 0, "operation", 10, 20),
                 span(2, 1, "scheduler", 5, 15)]
        got = stats.self_times(spans)
        self.assertEqual(got["operation"], 5)
        self.assertEqual(got["scheduler"], 10)

    def test_same_layer_adds_up(self):
        spans = [span(1, 0, "operation", 0, 10), span(2, 0, "operation", 20, 25)]
        self.assertEqual(stats.self_times(spans), {"operation": 15})


if __name__ == "__main__":
    unittest.main()
