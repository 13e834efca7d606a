"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

test_attribution builds the harness and runs perfbench.SelfCheck, which
traces real jobs and checks where the call-site attribution puts them.
"""
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import checks  # noqa: E402
import run  # noqa: E402


class Stats(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        value, pct = run.tail([float(i) for i in range(41)])
        self.assertEqual(value, 30.0)
        self.assertEqual(sum(1 for i in range(41) if i > value), 10)
        self.assertAlmostEqual(pct, 100.0 * 31 / 41)

    def test_tail_below_21_samples_is_the_max(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100.0))
        self.assertEqual(run.tail([float(i) for i in range(20)]), (19.0, 100.0))


class ContentHash(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        import pandas as pd
        a = pd.DataFrame({"id": [1, 2], "v": [0.5, 1.25], "s": ["x", None]})
        b = a.iloc[::-1][["s", "v", "id"]]
        self.assertEqual(checks.content_hash(a), checks.content_hash(b))

    def test_values_matter(self):
        import pandas as pd
        a = pd.DataFrame({"id": [1, 2], "v": [0.5, 1.25]})
        b = pd.DataFrame({"id": [1, 2], "v": [0.5, 1.5]})
        self.assertNotEqual(checks.content_hash(a), checks.content_hash(b))

    def test_fixture_oracles_do_not_apply(self):
        self.assertFalse(checks.oracle_applies("SELECT * FROM read_parquet('f.parquet')"))
        self.assertTrue(checks.oracle_applies("SELECT * FROM lineitem"))


class Attribution(unittest.TestCase):
    def test_attribution(self):
        jar = build.build()
        run_dir = os.path.join(ROOT, ".bench_run", f"selfcheck-{os.getpid()}")
        os.makedirs(os.path.join(run_dir, "tmp"))
        try:
            proc = subprocess.run(
                run.java(jar, run_dir, "perfbench.SelfCheck", "--data", run.data_dir()),
                cwd=ROOT, capture_output=True, text=True, timeout=300)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        lines = [l for l in proc.stdout.splitlines() if l[:4] in ("PASS", "FAIL")]
        self.assertEqual(proc.returncode, 0, "\n".join(lines) or proc.stderr[-3000:])
        self.assertEqual(len(lines), 5, proc.stdout)


if __name__ == "__main__":
    unittest.main()
