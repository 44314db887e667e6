import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class MedianAndTail(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_tail_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11))), (0, 100 / 11, 11))

    def test_tail_leaves_exactly_ten_samples_beyond(self):
        xs = list(range(100, 0, -1))
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)


class Intervals(unittest.TestCase):
    def test_union_merges_overlapping_and_nested(self):
        ivs = [(0, 10), (2, 3), (5, 12), (20, 25), (21, 22), (30, 30)]
        self.assertEqual(stats.union(ivs), [(0, 12), (20, 25)])
        self.assertEqual(stats.union_length(ivs), 17)

    def test_union_of_touching_intervals(self):
        self.assertEqual(stats.union([(0, 1), (1, 2)]), [(0, 2)])

    def test_self_time_never_negative_under_overlap(self):
        # Three concurrent children covering more than the span itself.
        children = [(0, 8), (1, 9), (-5, 12)]
        self.assertEqual(stats.self_time((0, 10), children), 0)
        self.assertEqual(stats.self_time((0, 10), [(2, 4), (3, 5)]), 7)

    def test_innermost_span(self):
        # Children are listed before parents (spans close inside out), and
        # span 4 starts in the same instant as its parent 3.
        spans = [dict(id=4, parent=3, start=20, end=25),
                 dict(id=3, parent=2, start=20, end=30),
                 dict(id=2, parent=1, start=10, end=50),
                 dict(id=1, parent=-1, start=0, end=100)]
        d = stats.depths(spans)
        self.assertEqual(d, {1: 0, 2: 1, 3: 2, 4: 3})
        self.assertEqual(stats.innermost(spans, 20, d), 4)
        self.assertEqual(stats.innermost(spans, 27, d), 3)
        self.assertEqual(stats.innermost(spans, 40, d), 2)
        self.assertEqual(stats.innermost(spans, 99, d), 1)
        self.assertIsNone(stats.innermost(spans, 101, d))


class Names(unittest.TestCase):
    def test_metric_name_pattern(self):
        for ok in ("setup_s", "spark.plan_s", "model.files_written", "p-50"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "plan s", "a/b", "x" * 65, "δ"):
            self.assertFalse(stats.valid_name(bad), bad)


class MetricLines(unittest.TestCase):
    def test_round_trip(self):
        text = "\n".join([
            "workload dag_refresh seed 1",
            stats.metric_line("refresh_s", 10.25, "s", "n=2"),
            stats.metric_line("spark.jobs", 336, "count"),
            stats.metric_line("append_docs_per_s", 23.5, "docs/s"),
            '{"correct": true}'])
        got = stats.parse_metric_lines(text)
        self.assertEqual(got["refresh_s"], (10.25, "s", "n=2"))
        self.assertEqual(got["spark.jobs"], (336.0, "count", ""))
        self.assertEqual(got["append_docs_per_s"][1], "docs/s")
        self.assertEqual(len(got), 3)

    def test_malformed_lines_are_ignored(self):
        self.assertEqual(stats.parse_metric_lines(
            "metric bad name 1 s\nmetric x notanumber s\nmetric y 1"), {})


if __name__ == "__main__":
    unittest.main()
