#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 bench/test_bench.py

They build the harness (as bench/run.py does) the first time.
"""
import filecmp
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_catalog_tables_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory(dir=run.WORK if os.path.isdir(run.WORK) else None) as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            run.gen_tables(a, 3)
            run.gen_tables(b, 3)
            run.gen_tables(c, 4)
            same = filecmp.dircmp(a, b)
            self.assertEqual(sorted(os.listdir(a)), sorted(same.same_files))
            self.assertTrue(filecmp.dircmp(a, c).diff_files)
            self.assertEqual(run.table_sizes(a), run.table_sizes(b))

    def test_key_subset_is_fixed_by_name(self):
        with open(run.KEYS) as fh:
            kinds = dict(reversed(l.split()) for l in fh if not l.startswith("#"))
        for k, kind in kinds.items():
            if kind != "write":
                self.assertEqual(kind == "read", run.measured(k), k)


class HarnessTest(unittest.TestCase):
    def test_selftest(self):
        """Deterministic batches, the key-list guard, and each workload's
        check rejecting a planted wrong answer (see SelfTest.scala)."""
        r = subprocess.run([sys.executable, os.path.join(run.BENCH, "run.py"), "--selftest"],
                           cwd=run.ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertGreaterEqual(r.stdout.count("selftest ok:"), 12, r.stdout)

    def test_refuses_outside_a_checkout(self):
        """With only BENCHMARK.json and bench/ present it fails fast and
        prints no result."""
        with tempfile.TemporaryDirectory() as t:
            shutil.copytree(run.BENCH, os.path.join(t, "bench"),
                            ignore=shutil.ignore_patterns(".work", "target", "project"))
            bj = os.path.join(run.ROOT, "BENCHMARK.json")
            if os.path.exists(bj):
                shutil.copy(bj, t)
            r = subprocess.run([sys.executable, "bench/run.py", "--workload", "catalog_read",
                                "--seed", "1", "--seconds", "10", "--trace", "0"],
                               cwd=t, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
