"""A wrong answer counts as an error, exactly like an exception."""
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402

SQL = "SELECT r_regionkey % 2 AS k, count(*) AS n FROM region GROUP BY 1"


class WrongResultCounts(unittest.TestCase):
    def setUp(self):
        self.root = tempfile.mkdtemp()
        os.makedirs(f"{self.root}/inputs/lake")
        pq.write_table(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                                 "r_name": list("abcde")}),
                       f"{self.root}/inputs/lake/region.parquet")

    def tearDown(self):
        shutil.rmtree(self.root)

    def _out(self, name, k, n):
        os.makedirs(f"{self.root}/out/{name}")
        pq.write_table(pa.table({"k": pa.array(k, pa.int32()), "n": pa.array(n, pa.int64())}),
                       f"{self.root}/out/{name}/part-0.parquet")
        return f"out/{name}"

    def test_wrong_rows_fail_right_rows_pass(self):
        ops = [
            {"key": "right", "kind": "query", "out": self._out("right", [0, 1], [3, 2])},
            {"key": "wrong", "kind": "query", "out": self._out("wrong", [0, 1], [3, 3])},
            {"key": "threw", "kind": "query", "out": None, "error": "boom"},
        ]
        oracles = {k: {"sql": SQL, "dir": "inputs/lake"} for k in ("right", "wrong", "threw")}
        verdict = check.check_run("lake_queries", self.root,
                                  {"ops": ops, "oracles": oracles}, f"{self.root}/cache")
        self.assertIsNone(verdict["right"])
        self.assertIn("differs from oracle", verdict["wrong"])
        self.assertEqual(verdict["threw"], "boom")
        # the cached oracle digest gives the same verdicts
        again = check.check_run("lake_queries", self.root,
                                {"ops": ops, "oracles": oracles}, f"{self.root}/cache")
        self.assertEqual(again, verdict)


if __name__ == "__main__":
    unittest.main()
