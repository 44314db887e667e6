import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import oracle  # noqa: E402


class OracleCompare(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        os.makedirs(os.path.join(self.data, "nation.parquet"))
        pd.DataFrame({"n_nationkey": [0, 1, 2],
                      "n_name": ["A", "B", "C"]}).to_parquet(
            os.path.join(self.data, "nation.parquet", "part-0.parquet"))
        self.result = os.path.join(self.tmp.name, "result")
        os.makedirs(self.result)
        # A result in another row and column order than the oracle's.
        pd.DataFrame({"n": [1, 2], "k": [2, 1]}).to_parquet(
            os.path.join(self.result, "part-0.parquet"))
        self.con = oracle.connect(self.data)

    def tearDown(self):
        self.tmp.cleanup()

    def test_matching_result_passes(self):
        sql = ("SELECT n_nationkey AS k, 3 - n_nationkey AS n FROM nation "
               "WHERE n_nationkey > 0")
        self.assertIsNone(oracle.check(self.con, self.result, sql))

    def test_wrong_expected_result_fails(self):
        sql = "SELECT n_nationkey AS k, 1 AS n FROM nation WHERE n_nationkey > 0"
        self.assertIn("rows differ", oracle.check(self.con, self.result, sql))
        sql = "SELECT n_nationkey AS k, 1 AS n FROM nation"
        self.assertIn("rowcount", oracle.check(self.con, self.result, sql))
        sql = "SELECT n_nationkey AS k FROM nation WHERE n_nationkey > 0"
        self.assertIn("columns", oracle.check(self.con, self.result, sql))

    def test_missing_result_fails(self):
        self.assertEqual(oracle.check(self.con, self.tmp.name + "/none",
                                      "SELECT 1"), "no result written")


if __name__ == "__main__":
    unittest.main()
