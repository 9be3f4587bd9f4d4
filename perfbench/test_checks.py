#!/usr/bin/env python3
"""Every correctness check of the benchmark can fail: each test builds a
small run output that passes, then a copy with one defect, which must be
rejected. Run from anywhere:

    python3 perfbench/test_checks.py
"""
import shutil
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import checks  # noqa: E402

TWIN_SQL = ("SELECT CAST(ts AS DATE) AS date_key, count(*) AS n, "
            "CAST(sum(v) AS DOUBLE) AS total FROM events GROUP BY 1")


class Fixture:
    """A kin_daily-shaped run output: raw events, one model target (a twin
    of TWIN_SQL), its pre-repair copy, one serving table, one read-mix
    answer; and a warehouse_queries-shaped answer with its oracle."""

    def __init__(self, root):
        self.root = Path(root)
        self.con = duckdb.connect()
        r = self.root
        for d in ("input", "wh", "serve/served", "serve_out/0", "qout/q1"):
            (r / d).mkdir(parents=True)
        self.con.sql(
            "COPY (SELECT * FROM (VALUES "
            "(TIMESTAMP '2024-01-01 10:00:00', 1.5), (TIMESTAMP '2024-01-01 11:00:00', 2.0), "
            "(TIMESTAMP '2024-01-02 09:00:00', 4.25), (TIMESTAMP '2024-01-03 09:00:00', 8.0)"
            f") t(ts, v)) TO '{r}/input/events.parquet' (FORMAT parquet)")
        self.con.sql(f"CREATE VIEW events AS SELECT * FROM '{r}/input/events.parquet'")
        model = f"SELECT * FROM ({TWIN_SQL}) WHERE date_key < DATE '2024-01-03'"
        self.write_model(model)
        shutil.copytree(r / "wh", r / "pre_repair")
        self.con.sql(f"COPY (SELECT date_key AS date, n, total FROM ({model})) "
                     f"TO '{r}/serve/served/part-0.parquet' (FORMAT parquet)")
        self.con.sql(f"COPY (SELECT * FROM ({model}) WHERE date_key = DATE '2024-01-01') "
                     f"TO '{r}/serve_out/0/part-0.parquet' (FORMAT parquet)")
        self.con.sql(f"COPY (SELECT count(*) AS n FROM events) "
                     f"TO '{r}/qout/q1/part-0.parquet' (FORMAT parquet)")
        self.kin = {"strs": {
            "models": "m1", "warehouse": str(r / "wh"),
            "pre_repair": str(r / "pre_repair"), "serving_dir": str(r / "serve"),
            "serve_out": str(r / "serve_out"),
            "twin.m1": "q_twin", "twin_sql.m1": TWIN_SQL, "twin_cut.m1": "2024-01-03",
            "serving.served": "m1", "renames.served": "date_key=date",
            "clone.c1": "m1",
            "serve.0": "SELECT * FROM c1 WHERE date_key = DATE '2024-01-01'"}}
        self.queries = {"strs": {"qout": str(r / "qout"),
                                 "oracle.q1": "SELECT count(*) AS n FROM events"}}

    def write_model(self, sql, target="wh/m1"):
        out = self.root / target
        shutil.rmtree(out, ignore_errors=True)
        self.con.sql(f"COPY ({sql}) TO '{out}' (FORMAT parquet, PARTITION_BY (date_key))")

    def check_kin(self):
        return checks.check("kin_daily", self.kin, self.root / "input", duckdb.connect())

    def check_queries(self):
        return checks.check("warehouse_queries", self.queries, self.root / "input",
                            duckdb.connect())


class ChecksCanFail(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")
        self.f = Fixture(self.tmp)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_untouched_outputs_pass(self):
        self.assertEqual(self.f.check_kin(), [])
        self.assertEqual(self.f.check_queries(), [])

    def test_changed_row_in_a_model_target(self):
        self.f.write_model("SELECT date_key, CASE WHEN date_key = DATE '2024-01-02' "
                           "THEN n + 1 ELSE n END AS n, total FROM ("
                           f"{TWIN_SQL}) WHERE date_key < DATE '2024-01-03'")
        problems = self.f.check_kin()
        self.assertTrue(any(p.startswith("twin m1") for p in problems), problems)
        self.assertTrue(any(p.startswith("repair m1") for p in problems), problems)

    def test_repair_that_loses_a_day(self):
        self.f.write_model(f"SELECT * FROM ({TWIN_SQL}) WHERE date_key < DATE '2024-01-02'")
        problems = self.f.check_kin()
        self.assertTrue(any(p.startswith("repair m1") for p in problems), problems)

    def test_serving_table_missing_a_row(self):
        sink = Path(self.tmp) / "serve" / "served" / "part-0.parquet"
        self.f.con.sql(f"COPY (SELECT * FROM '{sink}' LIMIT 1) TO '{sink}.tmp' (FORMAT parquet)")
        Path(f"{sink}.tmp").replace(sink)
        problems = self.f.check_kin()
        self.assertEqual(len(problems), 1, problems)
        self.assertTrue(problems[0].startswith("serving served"), problems)

    def test_wrong_read_mix_answer(self):
        ans = Path(self.tmp) / "serve_out" / "0" / "part-0.parquet"
        self.f.con.sql(f"COPY (SELECT date_key, n, total + 0.5 AS total FROM '{ans}') "
                       f"TO '{ans}.tmp' (FORMAT parquet)")
        Path(f"{ans}.tmp").replace(ans)
        problems = self.f.check_kin()
        self.assertEqual(len(problems), 1, problems)
        self.assertTrue(problems[0].startswith("read 0"), problems)

    def test_wrong_query_output(self):
        ans = Path(self.tmp) / "qout" / "q1" / "part-0.parquet"
        self.f.con.sql(f"COPY (SELECT 5::BIGINT AS n) TO '{ans}' (FORMAT parquet)")
        problems = self.f.check_queries()
        self.assertEqual(len(problems), 1, problems)
        self.assertTrue(problems[0].startswith("q1"), problems)

    def test_missing_query_output(self):
        shutil.rmtree(Path(self.tmp) / "qout" / "q1")
        self.assertEqual(len(self.f.check_queries()), 1)

    def test_decimal_scale_is_kept_in_query_compare(self):
        ans = Path(self.tmp) / "qout" / "q1" / "part-0.parquet"
        self.f.con.sql(f"COPY (SELECT 4.0::DECIMAL(10,1) AS n) TO '{ans}' (FORMAT parquet)")
        self.f.queries["strs"]["oracle.q1"] = "SELECT 4.00::DECIMAL(10,2) AS n"
        self.assertEqual(len(self.f.check_queries()), 1)


if __name__ == "__main__":
    unittest.main()
