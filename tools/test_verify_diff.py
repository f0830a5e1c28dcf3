"""Tests of the Verify dump diff: python3 -m unittest discover -s tools -p 'test_*.py'"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import verify_diff  # noqa: E402


class VerifyDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")

    def tearDown(self):
        self.tmp.cleanup()

    def put(self, side, query, table):
        """One query output the way Spark writes it: a directory of one
        part file beside a _SUCCESS marker."""
        d = os.path.join(side, query)
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
        open(os.path.join(d, "_SUCCESS"), "w").close()

    def run_diff(self):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = verify_diff.main([self.a, self.b])
        return code, out.getvalue()

    def both(self, query, table):
        self.put(self.a, query, table)
        self.put(self.b, query, table)

    def test_identical_dumps_pass(self):
        t = pa.table({"id": [1, 2], "score": [0.5, float("nan")],
                      "toks": [["a"], ["b"]]})
        self.both("q_one", t)
        self.both("q_nan", pa.table({"x": pa.array([[float("nan")]])}))
        os.makedirs(self.a, exist_ok=True)
        open(os.path.join(self.a, "oracle_sql.json"), "w").close()
        code, out = self.run_diff()
        self.assertEqual(code, 0, out)
        self.assertIn("2/2 identical", out)

    def test_value_difference_fails(self):
        self.put(self.a, "q", pa.table({"id": [1, 2], "v": [1.0, 2.0]}))
        self.put(self.b, "q", pa.table({"id": [1, 2], "v": [1.0, 2.0000001]}))
        code, out = self.run_diff()
        self.assertEqual(code, 1)
        self.assertIn("q: VALUES first at row 1", out)

    def test_row_order_difference_fails(self):
        self.put(self.a, "q", pa.table({"id": [1, 2]}))
        self.put(self.b, "q", pa.table({"id": [2, 1]}))
        code, out = self.run_diff()
        self.assertEqual(code, 1)
        self.assertIn("q: ORDER", out)

    def test_row_count_difference_fails(self):
        self.put(self.a, "q", pa.table({"id": [1, 2]}))
        self.put(self.b, "q", pa.table({"id": [1, 2, 3]}))
        code, out = self.run_diff()
        self.assertEqual(code, 1)
        self.assertIn("q: ROWS 2 vs 3", out)

    def test_schema_difference_fails(self):
        self.put(self.a, "q", pa.table({"id": pa.array([1], pa.int64())}))
        self.put(self.b, "q", pa.table({"id": pa.array([1], pa.int32())}))
        code, out = self.run_diff()
        self.assertEqual(code, 1)
        self.assertIn("q: SCHEMA", out)

    def test_query_missing_on_one_side_fails(self):
        self.both("q", pa.table({"id": [1]}))
        self.put(self.b, "q_new", pa.table({"id": [1]}))
        code, out = self.run_diff()
        self.assertEqual(code, 1)
        self.assertIn("q_new: MISSING in " + self.a, out)
        self.assertIn("1/2 identical", out)


if __name__ == "__main__":
    unittest.main()
