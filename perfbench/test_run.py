#!/usr/bin/env python3
"""Self-tests of the runner's oracle comparison (tools/drivercheck.py, as
run.py calls it): an exact result passes, and a result with one corrupted
cell, a lost row or a flipped zero sign fails. Run from the root of a
checkout with `python3 perfbench/test_run.py`."""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import drivercheck  # noqa: E402
import run  # noqa: E402

import duckdb  # noqa: E402


class OracleCompare(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        self.tables = os.path.join(d, "tables")
        self.results = os.path.join(d, "results")
        con = duckdb.connect()
        # the compare opens every table of the data set; only region is used
        for t in drivercheck.TABLES:
            os.makedirs(os.path.join(self.tables, f"{t}.parquet"))
            rows = ("SELECT * FROM (VALUES (0, 'AFRICA', 1.5::DOUBLE), (1, 'ASIA', 0.0::DOUBLE)) "
                    "t(r_regionkey, r_name, w)") if t == "region" else "SELECT 1 AS x"
            con.execute(f"COPY ({rows}) TO '{self.tables}/{t}.parquet/part-0.parquet' (FORMAT parquet)")
        self.con = con
        os.makedirs(self.results)
        with open(os.path.join(self.results, "tables_dir.txt"), "w") as f:
            f.write(self.tables)
        with open(os.path.join(self.results, "oracle_sql.json"), "w") as f:
            json.dump({"q": "SELECT r_regionkey, r_name, w FROM region ORDER BY r_regionkey"}, f)

    def tearDown(self):
        self.tmp.cleanup()

    def result(self, sql):
        out = os.path.join(self.results, "q")
        os.makedirs(out, exist_ok=True)
        self.con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")

    def test_exact_result_passes(self):
        self.result("SELECT * FROM (VALUES (1, 'ASIA', 0.0::DOUBLE), (0, 'AFRICA', 1.5::DOUBLE)) "
                    "t(r_regionkey, r_name, w)")
        self.assertEqual(run.oracle_mismatches(self.results), [])

    def test_corrupted_cell_fails(self):
        self.result("SELECT * FROM (VALUES (0, 'AFRICA', 1.5::DOUBLE), (1, 'ASIA ', 0.0::DOUBLE)) "
                    "t(r_regionkey, r_name, w)")
        self.assertEqual(len(run.oracle_mismatches(self.results)), 1)

    def test_lost_row_fails(self):
        self.result("SELECT * FROM (VALUES (0, 'AFRICA', 1.5::DOUBLE)) t(r_regionkey, r_name, w)")
        self.assertEqual(len(run.oracle_mismatches(self.results)), 1)

    def test_negative_zero_fails(self):
        self.result("SELECT * FROM (VALUES (0, 'AFRICA', 1.5::DOUBLE), (1, 'ASIA', -0.0::DOUBLE)) "
                    "t(r_regionkey, r_name, w)")
        self.assertEqual(len(run.oracle_mismatches(self.results)), 1)


if __name__ == "__main__":
    unittest.main()
