"""Pins tools/pqmeta.py on Parquet files the test writes with DuckDB.

Run: python3 -m unittest tools/test_pqmeta.py
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import pqmeta  # noqa: E402


class PqmetaTest(unittest.TestCase):
    def setUp(self):
        self.addCleanup(setattr, sys, "argv", sys.argv)
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.dir = os.path.join(tmp.name, "out")
        os.makedirs(os.path.join(self.dir, "sub"))
        con = duckdb.connect()
        # two files of one schema: a low-cardinality column DuckDB
        # dictionary-encodes, and a distinct-valued one it writes plain
        for i, (name, codec) in enumerate([("part-0.parquet", "zstd"),
                                           ("sub/part-1.parquet", "snappy")]):
            con.execute(
                f"COPY (SELECT CAST(range AS BIGINT) AS id, 'k' || (range % 3) AS k "
                f"FROM range({i * 1000}, {i * 1000 + 1000})) "
                f"TO '{os.path.join(self.dir, name)}' (FORMAT PARQUET, COMPRESSION '{codec}')")
        self.first = os.path.join(self.dir, "part-0.parquet")

    def run_main(self, *paths):
        out = io.StringIO()
        sys.argv = ["pqmeta.py", *paths]
        with contextlib.redirect_stdout(out):
            pqmeta.main()
        return out.getvalue().splitlines()

    def test_one_file(self):
        rows, cols = pqmeta.columns([self.first])
        self.assertEqual(rows, 1000)
        self.assertEqual([c[:3] for c in cols], [("id", "ZSTD", "PLAIN"),
                                                  ("k", "ZSTD", "PLAIN,RLE_DICTIONARY")])
        lines = self.run_main(self.first)
        self.assertEqual(lines[0], f"{self.first}: 1000 rows, 1 files, "
                                   f"{os.path.getsize(self.first)} bytes")
        self.assertEqual(lines[1].split(), ["column", "codec", "encodings", "compressed",
                                            "uncompressed", "B/row"])
        self.assertEqual([l.split()[0] for l in lines[2:]], ["id", "k", "total"])

    def test_directory_sums_every_file(self):
        one = dict((c[0], c) for c in pqmeta.columns([self.first])[1])
        rows, cols = pqmeta.columns(pqmeta.files(self.dir))
        self.assertEqual(rows, 2000)
        self.assertEqual([c[:3] for c in cols], [("id", "SNAPPY,ZSTD", "PLAIN"),
                                                  ("k", "SNAPPY,ZSTD", "PLAIN,RLE_DICTIONARY")])
        for name, _, _, comp, uncomp in cols:
            self.assertGreater(comp, one[name][3])
            self.assertGreater(uncomp, one[name][4])
        lines = self.run_main(self.dir)
        self.assertTrue(lines[0].startswith(f"{self.dir}: 2000 rows, 2 files, "))
        total = lines[-1].split()
        self.assertEqual(total[0], "total")
        self.assertEqual(int(total[1]), sum(c[3] for c in cols))
        self.assertEqual(int(total[2]), sum(c[4] for c in cols))
        self.assertEqual(total[3], f"{sum(c[3] for c in cols) / 2000:.2f}")

    def test_empty_directory(self):
        empty = os.path.join(self.dir, "none")
        os.makedirs(empty)
        self.assertEqual(self.run_main(empty), [f"{empty}: no parquet files"])


if __name__ == "__main__":
    unittest.main()
