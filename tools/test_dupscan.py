"""Pins tools/dupscan.py on a small fixture.

Run: python3 -m unittest tools/test_dupscan.py
"""
import contextlib
import io
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import dupscan  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "testdata", "dupscan_fixture.scala")


class DupscanTest(unittest.TestCase):
    def setUp(self):
        self.addCleanup(setattr, sys, "argv", sys.argv)

    def test_count_and_blocks(self):
        blocks, n = dupscan.repeated_blocks(FIXTURE)
        self.assertEqual(n, 12)
        self.assertEqual(blocks, [(3, 9, "val x = 1"), (12, 17, "val x = 1")])
        self.assertEqual(dupscan.repeated_lines(FIXTURE), 12)

    def test_single_file_prints_blocks(self):
        out = io.StringIO()
        sys.argv = ["dupscan.py", FIXTURE]
        with contextlib.redirect_stdout(out):
            dupscan.main()
        self.assertEqual(out.getvalue().splitlines(), [
            f"12 {FIXTURE}", "  3-9 val x = 1", "  12-17 val x = 1"])

    def test_directory_prints_counts_only(self):
        out = io.StringIO()
        sys.argv = ["dupscan.py", os.path.dirname(FIXTURE)]
        with contextlib.redirect_stdout(out):
            dupscan.main()
        self.assertEqual(out.getvalue().splitlines(),
                         ["12 dupscan_fixture.scala", "12 total"])


if __name__ == "__main__":
    unittest.main()
