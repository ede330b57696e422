"""Runs oracle_check.py on a two-query Verify-style output and checks its
exit status.

    python3 -m unittest discover -s tools
"""
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

SCRIPT = Path(__file__).resolve().parent / "oracle_check.py"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


class OracleCheckTest(unittest.TestCase):
    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        root = Path(tmp.name)
        self.sf, self.out = root / "sf", root / "out"
        self.sf.mkdir()
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"COPY (SELECT 1 AS x) TO '{self.sf}/{t}.parquet' (FORMAT PARQUET)")
        # Both queries' Spark output is a=1; only "good"'s oracle agrees.
        oracle = {"good": "SELECT 1 AS a", "bad": "SELECT 2 AS a"}
        for name in oracle:
            (self.out / f"{name}.parquet").mkdir(parents=True)
            con.sql(f"COPY (SELECT 1 AS a) TO '{self.out}/{name}.parquet/part-0.parquet' "
                    "(FORMAT PARQUET)")
        # graft.Verify's driver-compat alias keys, which the script skips.
        oracle.update({f"{k}.parquet": v for k, v in oracle.items()})
        (self.out / "oracle_sql.json").write_text(json.dumps(oracle))

    def check(self, *names):
        return subprocess.run([sys.executable, str(SCRIPT), str(self.sf), str(self.out), *names],
                              stdout=subprocess.PIPE, text=True, timeout=120)

    def test_any_failure_exits_1(self):
        p = self.check()
        self.assertEqual(p.returncode, 1, p.stdout)
        self.assertIn("FAIL bad", p.stdout)
        self.assertIn("1/2 OK", p.stdout)

    def test_all_passing_exits_0(self):
        p = self.check("good")
        self.assertEqual(p.returncode, 0, p.stdout)
        self.assertIn("1/1 OK", p.stdout)

    def test_unknown_name_fails(self):
        p = self.check("good", "missing")
        self.assertEqual(p.returncode, 1, p.stdout)
        self.assertIn("FAIL missing", p.stdout)


if __name__ == "__main__":
    unittest.main()
