"""Unit tests for the benchmark's statistics helpers.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        value, pct, beyond = stats.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0, 0.5]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_small_sample_counts(self):
        # 11 samples: only the smallest has ten beyond it
        self.assertEqual(stats.tail(list(range(11))), (0, 100.0 / 11, 10))
        # ten or fewer: no percentile qualifies, the maximum is reported
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(stats.tail(list(range(10))), (9, 100.0, 0))

    def test_custom_beyond(self):
        value, pct, beyond = stats.tail(list(range(1, 21)), beyond=5)
        self.assertEqual((value, pct, beyond), (15, 75.0, 5))


class SpreadTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 9.5, 10.2]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / statistics.median(xs))

    def test_constant_values_have_no_spread(self):
        self.assertEqual(stats.quartile_spread([4.0] * 10), 0.0)

    def test_known_value(self):
        # quantiles of 1..9 (exclusive method) are 2.5, 5, 7.5
        self.assertAlmostEqual(stats.quartile_spread(list(range(1, 10))), 5.0 / 5.0)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end, name="s"):
        return {"id": i, "parent": parent, "start": start, "end": end, "name": name}

    def test_span_minus_children(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 50, 60)]
        self.assertEqual(stats.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40), self.span(3, 1, 30, 50)]
        self.assertEqual(stats.self_times(spans)[1], 60)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span(1, 0, 10, 20), self.span(2, 1, 0, 15), self.span(3, 1, 18, 40)]
        self.assertEqual(stats.self_times(spans)[1], 3)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 50), self.span(3, 2, 0, 50)]
        self.assertEqual(stats.self_times(spans), {1: 50, 2: 0, 3: 50})

    def test_layer_table_shares_sum_to_one(self):
        spans = [self.span(1, 0, 0, 100, "query"), self.span(2, 1, 0, 40, "build"),
                 self.span(3, 1, 40, 100, "exec"), self.span(4, 3, 50, 90, "exec_tasks")]
        table = stats.layer_table(spans)
        self.assertAlmostEqual(sum(r["share"] for r in table.values()), 1.0)
        self.assertEqual(table["exec"]["self_ms"], 20)
        self.assertEqual(table["exec_tasks"]["total_ms"], 40)


if __name__ == "__main__":
    unittest.main()
