"""Unit tests for check_oracle's row canonicalization.

Run from the repo root: python3 -m unittest tools/test_check_oracle.py
"""
import contextlib
import io
import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from check_oracle import canon, main  # noqa: E402


class CanonTest(unittest.TestCase):
    def test_column_boundaries_are_kept(self):
        cols = ["a", "b"]
        self.assertNotEqual(canon([(1, 23)], cols), canon([(12, 3)], cols))

    def test_columns_compare_by_name_and_rows_as_a_multiset(self):
        self.assertEqual(canon([(1, "x"), (2, "y")], ["a", "b"]),
                         canon([("y", 2), ("x", 1)], ["b", "a"]))

    def test_floats_compare_exactly_and_nan_equals_nan(self):
        self.assertNotEqual(canon([(0.1 + 0.2,)], ["a"]), canon([(0.3,)], ["a"]))
        self.assertEqual(canon([(float("nan"),)], ["a"]),
                         canon([(float("nan"),)], ["a"]))


class OrphanDumpTest(unittest.TestCase):
    def test_a_dump_without_an_oracle_entry_fails(self):
        with tempfile.TemporaryDirectory() as tmp:
            out, sf = Path(tmp) / "out", Path(tmp) / "sf"
            (out / "q_orphan").mkdir(parents=True)
            sf.mkdir()
            (out / "oracle_sql.json").write_text(json.dumps({}))
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = main([str(out), str(sf)])
        lines = buf.getvalue().splitlines()
        self.assertEqual(rc, 1)
        self.assertIn("q_orphan", lines[0])
        self.assertEqual(lines[-1], "OK 0/1")


if __name__ == "__main__":
    unittest.main()
