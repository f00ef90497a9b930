#!/usr/bin/env python3
"""Checks that gen_digests.py digests rows exactly as Digest.scala does.

    python3 -m unittest perfbench/test_digest.py

CheckSpec.scala digests the same rows and expects the same string.
"""
import datetime
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_digests  # noqa: E402

SHARED = "arr,b,d,id,n,s,ts,v|2|2b6c7507e5cab8ab"


class DigestTest(unittest.TestCase):
    def test_shared_rows(self):
        ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=1700000000123456)
        rows = [
            [1, 2.5, "x", ts, datetime.date(2024, 2, 29), [1.5, 2.0], None, True],
            [-7, float("nan"), "", None, None, [], 3, False],
        ]
        cols = ["id", "v", "s", "ts", "d", "arr", "n", "b"]
        self.assertEqual(gen_digests.digest(cols, rows), SHARED)

    def test_order_independent_multiset(self):
        cols = ["a", "b"]
        rows = [[1, "x"], [2, "y"]]
        d = gen_digests.digest(cols, rows)
        self.assertEqual(gen_digests.digest(cols, rows[::-1]), d)
        self.assertNotEqual(gen_digests.digest(cols, rows + rows[:1]), d)
        self.assertNotEqual(gen_digests.digest(cols, [[1, "x"], [2.0, "y"]]), d)


if __name__ == "__main__":
    unittest.main()
