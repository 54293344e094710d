"""Tests for the DuckDB check helpers: python3 -m unittest perfbench/test_checks.py"""
import os
import sys
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402

# r's body holds a ')' literal before its self-reference
SQL = ("WITH RECURSIVE e AS (SELECT 1 AS a, 2 AS b UNION ALL SELECT 2, 3), "
       "once AS (SELECT a FROM e), "
       "r AS (SELECT a, b FROM e WHERE ')' <> '' UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a) "
       "SELECT * FROM r JOIN once USING (a) ORDER BY a, b")


class MaterializeCtes(unittest.TestCase):
    def test_only_shared_non_recursive_ctes(self):
        out = checks.materialize_ctes(SQL)
        self.assertIn("e AS MATERIALIZED (", out)
        self.assertNotIn("once AS MATERIALIZED", out)  # read once
        self.assertNotIn("r AS MATERIALIZED", out)     # recursive

    def test_same_result(self):
        con = duckdb.connect()
        self.assertEqual(con.sql(SQL).fetchall(),
                         con.sql(checks.materialize_ctes(SQL)).fetchall())


class ClustersDigest(unittest.TestCase):
    def test_check_op_must_match_warm_up(self):
        self.assertTrue(checks.same_clusters({"warmup": [10, -3], "check": [10, -3]}))
        self.assertFalse(checks.same_clusters({"warmup": [10, -3], "check": [10, 7]}))
        self.assertFalse(checks.same_clusters({"warmup": [0, 0], "check": [0, 0]}))
        self.assertFalse(checks.same_clusters({}))


if __name__ == "__main__":
    unittest.main()
