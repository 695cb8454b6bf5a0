"""Self-tests of the benchmark: generators, fingerprinting, and the
driver's refusal paths. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests

The Scala half (generator determinism, fingerprint invariants) runs
through `run.py --self-test`; this file checks that the Python
fingerprint used by `oracle_xcheck.py` agrees with it bit for bit.
"""
import datetime
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import oracle_xcheck  # noqa: E402

COLUMNS = ["id", "name", "score", "when"]
SAMPLE = [
    (1, "alpha", 1.5, datetime.date(2024, 2, 29)),
    (2, None, -0.0, datetime.date(1999, 12, 31)),
    (3, "gamma é", 1e-7, None),
    (3, "gamma é", 1e-7, None),
]


def run(*args):
    return subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                          capture_output=True, text=True, timeout=600)


class FingerprintTest(unittest.TestCase):
    def test_stable_under_row_order(self):
        self.assertEqual(oracle_xcheck.fingerprint(COLUMNS, SAMPLE),
                         oracle_xcheck.fingerprint(COLUMNS, list(reversed(SAMPLE))))

    def test_stable_under_column_order(self):
        flipped = [tuple(reversed(r)) for r in SAMPLE]
        self.assertEqual(oracle_xcheck.fingerprint(COLUMNS, SAMPLE),
                         oracle_xcheck.fingerprint(list(reversed(COLUMNS)), flipped))

    def test_sees_changes_and_duplicates(self):
        base = oracle_xcheck.fingerprint(COLUMNS, SAMPLE)
        self.assertNotEqual(base, oracle_xcheck.fingerprint(COLUMNS, SAMPLE[:3]))
        changed = [(1, "alpha", 1.25, SAMPLE[0][3])] + SAMPLE[1:]
        self.assertNotEqual(base, oracle_xcheck.fingerprint(COLUMNS, changed))

    def test_negative_zero_is_zero(self):
        self.assertEqual(oracle_xcheck.canon(-0.0), oracle_xcheck.canon(0.0))


class HarnessSelfTest(unittest.TestCase):
    def test_scala_self_test_agrees_with_python(self):
        r = run("--self-test")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertNotIn("FAIL", r.stdout)
        rows, digest = r.stdout.strip().splitlines()[-1].split()[1:]
        self.assertEqual((int(rows), digest), oracle_xcheck.fingerprint(COLUMNS, SAMPLE))

    def test_refuses_without_workload(self):
        r = run("--seed", "1")
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout, "")


if __name__ == "__main__":
    unittest.main()
