"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The generator must be deterministic, and an op whose written output is
damaged must be counted as failed. The second test runs the harness
end to end (about a minute per workload).
"""

import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "perfbench", "tests")


def workloads():
    with open(os.path.join(BENCH, "workloads.json")) as f:
        return sorted(json.load(f)["workloads"])


def same_tree(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_gives_identical_files(self):
        for w in workloads():
            with self.subTest(workload=w):
                a, b, c = (os.path.join(SCRATCH, f"{w}-{k}") for k in "abc")
                gen.generate(w, 11, a)
                gen.generate(w, 11, b)
                gen.generate(w, 12, c)
                self.assertTrue(same_tree(a, b), "same seed, different bytes")
                self.assertFalse(same_tree(a, c), "different seeds, same bytes")


def run_bench(workload, *extra):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", "0", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"run.py exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class CorruptedOutputTest(unittest.TestCase):
    def test_corrupted_output_is_a_failed_op(self):
        for w in workloads():
            with self.subTest(workload=w):
                clean = run_bench(w)
                self.assertTrue(clean["correct"])
                self.assertEqual(clean["failed"], 0)
                bad = run_bench(w, "--corrupt")
                self.assertFalse(bad["correct"])
                self.assertGreaterEqual(bad["attempted"], 1)
                self.assertEqual(bad["failed"], bad["attempted"])
                self.assertLess(bad["metrics"]["ok_frac"]["value"], 1.0)


if __name__ == "__main__":
    unittest.main()
