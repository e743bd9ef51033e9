"""Self-tests of the oracle side of clifbench/run.py.

Run from the repository root:  python3 -m unittest discover -s clifbench/tests
"""
import importlib.util
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
spec = importlib.util.spec_from_file_location(
    "clifbench_run", os.path.join(HERE, "..", "run.py"))
run = importlib.util.module_from_spec(spec)
spec.loader.exec_module(run)


class OracleTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        os.makedirs(os.path.join(d, "in"))
        os.makedirs(os.path.join(d, "out", "q"))
        pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]}).to_parquet(
            os.path.join(d, "in", "t.parquet"))
        self.out = os.path.join(d, "out", "q")

    def tearDown(self):
        self.tmp.cleanup()

    def result(self, sql, rows):
        if rows is not None:
            rows.to_parquet(os.path.join(self.out, "part-0.parquet"))
        return {"oracle_tables": {"t": os.path.join(self.tmp.name, "in",
                                                    "t.parquet")},
                "oracle_sql": {"q": sql},
                "checks": [{"op": "q", "dir": self.out, "oracle": "q",
                            "executions": 5}]}

    def failures(self, res):
        return run.oracle_checks(ROOT, os.path.join(self.tmp.name, "build"),
                                 res)

    def test_matching_output_passes(self):
        got = pd.DataFrame({"k": [3, 1, 2], "v": ["c", "a", "b"]})
        self.assertEqual(self.failures(self.result("SELECT * FROM t", got)), [])

    def test_corrupted_expectation_fails_every_execution(self):
        got = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
        res = self.result("SELECT k, CASE WHEN k = 2 THEN 'x' ELSE v END AS v "
                          "FROM t", got)
        f = self.failures(res)
        self.assertEqual(len(f), 1)
        self.assertEqual(f[0][2], 5)  # all five executions count as failed
        self.assertIn("value mismatch", f[0][1])

    def test_empty_equals_empty_fails(self):
        empty = pd.DataFrame({"k": pd.Series([], dtype="int64"),
                              "v": pd.Series([], dtype="object")})
        f = self.failures(self.result("SELECT * FROM t WHERE k > 9", empty))
        self.assertEqual(len(f), 1)
        self.assertIn("empty result", f[0][1])

    def test_missing_output_fails(self):
        f = self.failures(self.result("SELECT * FROM t", None))
        self.assertEqual(len(f), 1)


if __name__ == "__main__":
    unittest.main()
