"""Self-tests of the benchmark's statistics.

Run from the repository root: python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import stats  # noqa: E402


def span(i, parent, start, end, layer="x", pass_id=0):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
            "layer": layer, "pass": pass_id}


class MedianQuartiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_exclusive_method(self):
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), (2.75, 5.5, 8.25))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 5.5 / 5.5)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_tail_percentile_leaves_ten_beyond(self):
        xs = list(range(1, 101))
        p, v = stats.tail_percentile(xs)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(p, 90.0)

    def test_tail_percentile_needs_eleven_samples(self):
        self.assertIsNone(stats.tail_percentile(list(range(10))))
        self.assertEqual(stats.tail_percentile(list(range(11))), (100.0 * 1 / 11, 0))

    def test_p99_needs_a_thousand_samples(self):
        self.assertFalse(stats.p99_supported(999))
        self.assertTrue(stats.p99_supported(1000))


class SelfTime(unittest.TestCase):
    def test_leaf_self_is_duration(self):
        self.assertEqual(stats.self_times([span(0, -1, 10, 30)]), {0: 20})

    def test_overlapping_children_are_counted_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60)]
        self.assertEqual(stats.self_times(spans)[0], 100 - 50)

    def test_children_are_clipped_to_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 90, 120)]
        self.assertEqual(stats.self_times(spans)[0], 90)

    def test_layer_self_times_sum_to_root_wall(self):
        spans = [span(0, -1, 0, 1_000_000_000, "harness"),
                 span(1, 0, 100_000_000, 600_000_000, "sources"),
                 span(2, 1, 200_000_000, 300_000_000, "fraud"),
                 span(3, 0, 700_000_000, 900_000_000, "fraud")]
        per = stats.layer_self_times(spans)[0]
        self.assertAlmostEqual(per["harness"], 0.3)
        self.assertAlmostEqual(per["sources"], 0.4)
        self.assertAlmostEqual(per["fraud"], 0.3)
        self.assertAlmostEqual(sum(per.values()), 1.0)

    def test_coverage_leaves_out_harness_self_time(self):
        spans = [span(0, -1, 0, 1_000_000_000, "harness"),
                 span(1, 0, 100_000_000, 600_000_000, "sources")]
        per = stats.layer_self_times(spans)[0]
        self.assertAlmostEqual(stats.coverage(per, 1.0), 0.5)
        self.assertAlmostEqual(stats.coverage({"sources": 1.0}, 1.0), 1.0)


if __name__ == "__main__":
    unittest.main()
