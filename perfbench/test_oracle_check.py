"""The catalog check counts a result that lost a row or changed a value.

    python3 -m unittest perfbench/test_oracle_check.py

Builds a tiny table set and one checked query result with DuckDB, then
runs the benchmark's oracle compare (tools/check.py) on the result as
written, with a row dropped, and with a value changed.
"""
import json
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

SQL = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"


class OracleCheckTest(unittest.TestCase):
    def check(self, result_sql):
        with tempfile.TemporaryDirectory() as d:
            data, work = os.path.join(d, "data"), os.path.join(d, "work")
            os.makedirs(data)
            os.makedirs(os.path.join(work, "verify", "q_region"))
            con = duckdb.connect()
            con.sql("CREATE TABLE region AS SELECT range::INT AS r_regionkey, "
                    "'R' || range AS r_name FROM range(5)")
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                src = "region" if t == "region" else "(SELECT 1 AS x)"
                con.sql(f"COPY {src} TO '{data}/{t}.parquet' (FORMAT PARQUET)")
            con.sql(f"COPY ({result_sql}) TO '{work}/verify/q_region/part-0.parquet' (FORMAT PARQUET)")
            with open(os.path.join(work, "verify", "oracle_sql.json"), "w") as f:
                json.dump({"q_region": SQL}, f)
            return run.oracle_check(work, data)

    def test_correct_result_passes(self):
        fails, passes = self.check(SQL)
        self.assertEqual(fails, [])
        self.assertEqual(len(passes), 1)

    def test_dropped_row_fails(self):
        fails, _ = self.check(SQL + " LIMIT 4")
        self.assertEqual(len(fails), 1)
        self.assertIn("rows exp=5 got=4", fails[0])

    def test_changed_value_fails(self):
        fails, _ = self.check("SELECT r_regionkey, CASE WHEN r_regionkey = 2 THEN 'X' "
                              "ELSE r_name END AS r_name FROM region ORDER BY r_regionkey")
        self.assertEqual(len(fails), 1)
        self.assertIn("FAIL q_region: row 2", fails[0])


if __name__ == "__main__":
    unittest.main()
