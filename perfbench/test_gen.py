"""Determinism of the benchmark inputs: the same seed must regenerate
byte-identical files, a different seed must not.

    python3 perfbench/test_gen.py        (from the root of a checkout)
"""
import filecmp
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import PARAMS  # noqa: E402

SCRATCH = os.path.join(os.getcwd(), ".bench_runs", "test_gen")


class GenDeterminism(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def files(self, workload, seed, tag):
        out = os.path.join(SCRATCH, f"{workload}-{tag}")
        paths = gen.generate(workload, seed, out, PARAMS[workload])
        return out, sorted(os.path.relpath(p, out) for p in paths)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in sorted(PARAMS):
            with self.subTest(workload=workload):
                a, fa = self.files(workload, 7, "a")
                b, fb = self.files(workload, 7, "b")
                c, fc = self.files(workload, 8, "c")
                self.assertEqual(fa, fb)
                self.assertEqual(fa, fc)
                _, mismatch, errors = filecmp.cmpfiles(a, b, fa, shallow=False)
                self.assertEqual((mismatch, errors), ([], []))
                _, mismatch, _ = filecmp.cmpfiles(a, c, fa, shallow=False)
                # every table drawn from the seed differs; the fixed ones
                # (region, nation, the stream's sentinel slices) do not
                drawn = [f for f in fa
                         if not f.startswith(("region", "nation", "sentinel"))]
                self.assertEqual(sorted(mismatch), drawn)


if __name__ == "__main__":
    unittest.main()
