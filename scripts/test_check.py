"""Tests for scripts/check.py's pass count and exit code.

    python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402


class CheckCountTest(unittest.TestCase):
    def run_check(self, results, failed_dumps):
        """Runs check.main over one-row stand-in tables: oracle `ok` and
        `lost` are `SELECT 1 AS x`; `results` names the queries with a
        Spark result on disk, `failed_dumps` the manifest's failures."""
        with tempfile.TemporaryDirectory() as d:
            sf, out = os.path.join(d, "sf"), os.path.join(d, "out")
            os.makedirs(sf)
            os.makedirs(out)
            con = duckdb.connect()
            for t in check.TABLES:
                con.execute(f"COPY (SELECT 1 AS x) TO '{sf}/{t}.parquet' (FORMAT parquet)")
            for name in results:
                con.execute(f"COPY (SELECT 1 AS x) TO '{out}/{name}' (FORMAT parquet)")
            oracle = {"ok": "SELECT 1 AS x", "lost": "SELECT 1 AS x"}
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump(oracle, f)
            with open(os.path.join(out, "verify_manifest.json"), "w") as f:
                json.dump({"queries": sorted(oracle), "failed": failed_dumps}, f)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = check.main(sf, out)
            return rc, buf.getvalue().strip().splitlines()[-1]

    def test_a_failed_dump_counts_once(self):
        # `lost` has no result AND is in the manifest's failed list
        self.assertEqual(self.run_check(["ok"], ["lost"]), (1, "1/2 queries match"))

    def test_all_match(self):
        self.assertEqual(self.run_check(["ok", "lost"], []), (0, "2/2 queries match"))


if __name__ == "__main__":
    unittest.main()
