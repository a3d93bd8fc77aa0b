"""End-to-end tests of the benchmark command. They build and run the
engine, so each workload test takes about a minute.

Run from the root of a checkout: `python3 -m unittest discover -s perfbench/tests`.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join("perfbench", "run.py")


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=600)


class CorruptedAnswerTest(unittest.TestCase):
    """A tampered answer must fail the workload's own check."""

    def assert_trips(self, workload, check):
        p = bench("--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0", "--corrupt")
        self.assertEqual(p.returncode, 1, p.stderr[-2000:])
        res = json.loads(p.stdout.splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertIn(f"check FAILED {check}", p.stderr)

    def test_etl_journey(self):
        self.assert_trips("etl_journey", "star_contraction_matches_label_propagation")

    def test_store_cdc(self):
        self.assert_trips("store_cdc", "served_equals_live:rfm")


class BareDirectoryTest(unittest.TestCase):
    """With only BENCHMARK.json and perfbench/ there is nothing to build."""

    def test_fails_without_a_result(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = bench("--workload", "etl_journey", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
