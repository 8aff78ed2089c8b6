"""The benchmark's own tests.

Run from the repository root:

    python3 -m unittest discover -s cdcbench/tests -v

They build the benchmark the way run.py does, then check that inputs follow
the seed, that the percentile helper behaves, and that a corrupted target
row or a wrong query hash is counted as a failure.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402

WORKLOADS = ("poll_apply", "replay_apply", "snapdiff_apply", "query_suite")


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args], cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    return p


def digest(workload, seed):
    p = bench("--workload", workload, "--seed", str(seed), "--seconds", "5", "--digest-only")
    lines = [l for l in p.stdout.splitlines() if l.startswith("[cdcbench] input_digest ")]
    assert p.returncode == 0 and lines, p.stderr
    return lines[-1].split()[-1]


def result(p):
    assert p.returncode == 0, p.stderr
    return json.loads(p.stdout.splitlines()[-1])


class InputDigest(unittest.TestCase):
    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = digest(w, 11), digest(w, 11), digest(w, 12)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class PercentileHelper(unittest.TestCase):
    def test_self_checks(self):
        p = subprocess.run(["java", "-cp", run.classpath(), "cdcbench.SelfTest"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(p.returncode, 0, p.stdout)


class InjectedFailures(unittest.TestCase):
    def test_corrupted_target_row_fails_each_cdc_workload(self):
        for w in WORKLOADS[:3]:
            with self.subTest(workload=w):
                r = result(bench("--workload", w, "--seed", "5", "--seconds", "2",
                                 "--inject", "row"))
                self.assertEqual(r["failed"], 1)
                self.assertFalse(r["correct"])

    def test_wrong_query_hash_fails_query_suite(self):
        r = result(bench("--workload", "query_suite", "--seed", "5", "--seconds", "2",
                         "--inject", "hash"))
        self.assertEqual(r["failed"], 1)
        self.assertFalse(r["correct"])


if __name__ == "__main__":
    unittest.main()
