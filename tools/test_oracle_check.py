#!/usr/bin/env python3
"""Tests for tools/oracle_check.py on tiny synthetic verify outputs.

Each case writes a scale dir (one small parquet per table the checker
reads) and a verify out dir (<name>/part.parquet per entry plus
oracle_sql.json) under a temporary directory, runs the checker on them,
and checks its exit status and report.

Usage: python3 tools/test_oracle_check.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

CHECKER = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "oracle_check.py")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DOCS_SQL = "SELECT doc_id, length(text) AS n FROM documents"
DOCS_ROWS = "SELECT * FROM (VALUES (1, 3), (2, 5)) t(doc_id, n)"


class OracleCheckTest(unittest.TestCase):

    def run_check(self, entries, oracle, empty=(), verify_failed=None):
        """entries: {name: SQL producing the Spark-side rows};
        oracle: {name: oracle SQL}; empty: entry dirs with no parquet;
        verify_failed: {name: error} written as verify_failed.json.
        Returns (exit code, stdout)."""
        with tempfile.TemporaryDirectory() as root:
            sf, out = os.path.join(root, "sf"), os.path.join(root, "out")
            os.makedirs(sf)
            os.makedirs(out)
            con = duckdb.connect()
            for t in TABLES:
                body = ("SELECT * FROM (VALUES (1, 'abc'), (2, 'hello')) t(doc_id, text)"
                        if t == "documents" else "SELECT 1 AS x")
                con.execute(f"COPY ({body}) TO '{sf}/{t}.parquet' (FORMAT PARQUET)")
            for name, sql in entries.items():
                os.makedirs(os.path.join(out, name))
                con.execute(f"COPY ({sql}) TO '{out}/{name}/part.parquet' (FORMAT PARQUET)")
            for name in empty:
                os.makedirs(os.path.join(out, name))
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump(oracle, f)
            if verify_failed is not None:
                with open(os.path.join(out, "verify_failed.json"), "w") as f:
                    json.dump(verify_failed, f)
            p = subprocess.run([sys.executable, CHECKER, sf, out],
                               capture_output=True, text=True)
            return p.returncode, p.stdout

    def test_all_ok_passes(self):
        code, out = self.run_check(
            {"docs": DOCS_ROWS, "extra": "SELECT 1 AS y"}, {"docs": DOCS_SQL})
        self.assertEqual(code, 0, out)
        self.assertIn("docs", out)
        self.assertIn("OK rows=2", out)
        self.assertIn("ROWS_ONLY", out)

    def test_value_mismatch_fails(self):
        code, out = self.run_check(
            {"docs": "SELECT * FROM (VALUES (1, 3), (2, 6)) t(doc_id, n)"},
            {"docs": DOCS_SQL})
        self.assertEqual(code, 1, out)
        self.assertIn("VALUE_MISMATCH", out)

    def test_rowcount_mismatch_fails(self):
        code, out = self.run_check(
            {"docs": "SELECT * FROM (VALUES (1, 3)) t(doc_id, n)"}, {"docs": DOCS_SQL})
        self.assertEqual(code, 1, out)
        self.assertIn("ROWCOUNT_MISMATCH", out)

    def test_schema_mismatch_fails(self):
        code, out = self.run_check(
            {"docs": "SELECT * FROM (VALUES (1, 3), (2, 5)) t(doc_id, len)"},
            {"docs": DOCS_SQL})
        self.assertEqual(code, 1, out)
        self.assertIn("SCHEMA_MISMATCH", out)

    def test_oracle_sql_error_fails(self):
        code, out = self.run_check(
            {"docs": DOCS_ROWS}, {"docs": "SELECT no_such_col FROM documents"})
        self.assertEqual(code, 1, out)
        self.assertIn("ORACLE_SQL_ERROR", out)

    def test_missing_spark_output_fails(self):
        code, out = self.run_check({"docs": DOCS_ROWS}, {"docs": DOCS_SQL, "gone": DOCS_SQL},
                                   empty=["gone"])
        self.assertEqual(code, 1, out)
        self.assertIn("NO_SPARK_OUTPUT", out)

    def test_one_failure_among_passes_fails(self):
        code, out = self.run_check(
            {"docs": DOCS_ROWS, "bad": "SELECT * FROM (VALUES (1, 3)) t(doc_id, n)"},
            {"docs": DOCS_SQL, "bad": DOCS_SQL})
        self.assertEqual(code, 1, out)
        self.assertIn("OK rows=2", out)
        self.assertIn("FAILED: bad", out)

    def test_query_that_threw_fails(self):
        code, out = self.run_check({"docs": DOCS_ROWS}, {"docs": DOCS_SQL, "boom": DOCS_SQL},
                                   verify_failed={"boom": "dim hint 64 does not match"})
        self.assertEqual(code, 1, out)
        self.assertIn("OK rows=2", out)
        self.assertIn("VERIFY_FAILED: dim hint 64", out)
        self.assertIn("FAILED: boom", out)

    def test_query_that_threw_fails_over_stale_output(self):
        # an earlier run's parquet under the name must not pass for this run
        code, out = self.run_check({"docs": DOCS_ROWS}, {"docs": DOCS_SQL},
                                   verify_failed={"docs": "boom"})
        self.assertEqual(code, 1, out)
        self.assertIn("VERIFY_FAILED: boom", out)

    def test_no_failed_queries_passes(self):
        code, out = self.run_check({"docs": DOCS_ROWS}, {"docs": DOCS_SQL}, verify_failed={})
        self.assertEqual(code, 0, out)

    def test_empty_out_dir_fails(self):
        code, out = self.run_check({}, {"docs": DOCS_SQL})
        self.assertEqual(code, 1, out)


if __name__ == "__main__":
    unittest.main()
