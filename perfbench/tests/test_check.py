import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402


class CompareSqlTest(unittest.TestCase):
    def compare(self, got_sql, want_sql):
        with tempfile.TemporaryDirectory() as d:
            con = duckdb.connect()
            os.makedirs(os.path.join(d, "got.parquet"))
            con.execute(f"COPY ({got_sql}) TO '{d}/got.parquet/part-0.parquet' (FORMAT PARQUET)")
            con.execute(f"CREATE TABLE want AS {want_sql}")
            return check.compare_sql(con, "t", os.path.join(d, "got.parquet"), "want")

    def test_equal_multisets_in_any_order(self):
        self.assertIsNone(self.compare(
            "SELECT * FROM (VALUES (1, 'x'), (2, NULL), (2, NULL)) v(a, b)",
            "SELECT * FROM (VALUES (2, NULL), (1, 'x'), (2, NULL)) v(a, b)"))

    def test_duplicate_counts_matter(self):
        problem = self.compare("SELECT * FROM (VALUES (1, 'x'), (1, 'x')) v(a, b)",
                               "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) v(a, b)")
        self.assertIn("1 missing, 1 extra", problem)

    def test_column_names_must_match(self):
        problem = self.compare("SELECT 1 AS a, 'x' AS b", "SELECT 1 AS a, 'x' AS c")
        self.assertIn("columns", problem)


if __name__ == "__main__":
    unittest.main()
