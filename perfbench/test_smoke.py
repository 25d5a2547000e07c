"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join("perfbench", "run.py")


sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import run  # noqa: E402


class RowKeyTest(unittest.TestCase):

    def test_rows_that_concatenate_alike_stay_distinct(self):
        self.assertNotEqual(run.row_key((1, 23)), run.row_key((12, 3)))
        self.assertNotEqual(run.row_key(("a", "bc")), run.row_key(("ab", "c")))
        self.assertEqual(run.row_key((1.5, None)), run.row_key((1.5, None)))


class SmokeTest(unittest.TestCase):

    def test_every_workload_and_check_passes_on_tiny_inputs(self):
        out = subprocess.run([sys.executable, RUN, "--smoke"], cwd=ROOT,
                             stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(out.returncode, 0)
        lines = out.stdout.strip().splitlines()
        final = json.loads(lines[-1])
        self.assertEqual(set(final), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(final["correct"])
        self.assertEqual(final["failed"], 0)
        records = [json.loads(line) for line in lines[:-1]]
        self.assertEqual({r["workload"] for r in records},
                         {"query_mix", "resync_cleanup"})
        for r in records:
            self.assertGreater(r["checks"], 0)
            for op in r["ops"]:
                # the layer calls are the whole operation
                layer_sum = sum(l["wall_s"] for l in op["layers"].values())
                self.assertAlmostEqual(layer_sum / op["wall_s"], 1.0, delta=0.05)
            with open(r["spans"]) as f:
                spans = [json.loads(line) for line in f]
            ids = {s["id"] for s in spans}
            names = {s["name"] for s in spans}
            self.assertIn("op", names)
            self.assertIn("merge.cleanup" if r["kind"] == "resync"
                          else "query.dedup", names)
            self.assertTrue(any(n.startswith("spark.job.") for n in names))
            # set-up and the measured loop are the roots; every other span
            # names a recorded parent
            roots = {s["name"] for s in spans if s["parent"] == 0}
            self.assertEqual(roots, {"setup", "workload." + r["kind"]})
            self.assertTrue(all(s["parent"] in ids for s in spans
                                if s["parent"] != 0))
        self.assertFalse(os.path.exists(os.path.join(ROOT, "perfbench", "work")))

    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"),
                            os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "work", "out",
                                                          "__pycache__"))
            out = subprocess.run([sys.executable, RUN, "--workload",
                                  "resync_cleanup", "--seed", "1", "--seconds", "1",
                                  "--trace", "0"], cwd=d, stdout=subprocess.PIPE,
                                 stderr=subprocess.PIPE, text=True, timeout=180)
        self.assertNotEqual(out.returncode, 0)
        self.assertEqual(out.stdout, "")


if __name__ == "__main__":
    unittest.main()
