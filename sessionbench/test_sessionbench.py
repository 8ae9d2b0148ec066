"""The benchmark's own tests.

Run from the repository root:
  python3 sessionbench/test_sessionbench.py

Two traced runs with the same seed must report identical deterministic
counts, and every run must pass its output checks. Each workload costs two
benchmark runs (about two minutes on a 4-core host).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = ["spark.jobs", "spark.stages", "spark.tasks", "sources.pages",
          "lifecycle.state_rows", "catalog.rows_out"]


def traced_run(workload, seed):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                       capture_output=True, text=True, cwd=ROOT, timeout=180)
    if p.returncode != 0:
        raise AssertionError(f"run failed ({p.returncode}): {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class SameSeedSameCounts(unittest.TestCase):
    def check(self, workload):
        a, b = traced_run(workload, 7), traced_run(workload, 7)
        for r in (a, b):
            self.assertTrue(r["correct"], r)
            self.assertEqual(r["failed"], 0)
        for k in COUNTS:
            self.assertEqual(a["metrics"][k]["value"], b["metrics"][k]["value"], k)
        return a

    def test_etl_incremental(self):
        m = self.check("etl_incremental")["metrics"]
        self.assertGreater(m["sources.pages"]["value"], 0)
        self.assertGreater(m["lifecycle.state_rows"]["value"], 0)

    def test_catalog_session(self):
        m = self.check("catalog_session")["metrics"]
        self.assertGreater(m["catalog.rows_out"]["value"], 0)
        self.assertGreater(m["catalog.memo_jobs_saved"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
