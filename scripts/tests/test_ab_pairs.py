import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import ab_pairs  # noqa: E402


class Summary(unittest.TestCase):
    def test_medians_iqr_and_wins(self):
        pairs = [({"t": p}, {"t": c}) for p, c in
                 [(10.0, 8.0), (12.0, 9.0), (11.0, 11.5), (13.0, 10.0)]]
        [(name, pm, cm, q, wins, n)] = ab_pairs.summary(pairs, [("t", "lower")])
        self.assertEqual(name, "t")
        self.assertEqual(pm, 11.5)
        self.assertEqual(cm, 9.5)
        # Inclusive quartiles of 10, 11, 12, 13: 10.75 and 12.25.
        self.assertAlmostEqual(q, 1.5)
        self.assertEqual((wins, n), (3, 4))

    def test_higher_is_better_counts_the_other_way(self):
        pairs = [({"r": 1.0}, {"r": 2.0}), ({"r": 3.0}, {"r": 2.0})]
        [row] = ab_pairs.summary(pairs, [("r", "higher")])
        self.assertEqual(row[4:], (1, 2))

    def test_a_metric_missing_on_either_side_leaves_the_pair_out(self):
        pairs = [({"t": 1.0}, {}), ({"t": 4.0}, {"t": 2.0})]
        [row] = ab_pairs.summary(pairs, [("t", "lower"), ("u", "lower")])
        self.assertEqual(row, ("t", 4.0, 2.0, 0.0, 1, 1))


class Parsing(unittest.TestCase):
    def test_seed_ranges(self):
        self.assertEqual(ab_pairs.parse_seeds("971-974"),
                         [971, 972, 973, 974])
        self.assertEqual(ab_pairs.parse_seeds("5"), [5])
        with self.assertRaises(ValueError):
            ab_pairs.parse_seeds("9-3")

    def test_result_line_is_the_last_json_line(self):
        out = "metric a 1.0 s\n{\"correct\": true}\nrun_wall_s 3\n"
        self.assertEqual(ab_pairs.result_line(out), {"correct": True})
        self.assertIsNone(ab_pairs.result_line("no result here\n"))


if __name__ == "__main__":
    unittest.main()
