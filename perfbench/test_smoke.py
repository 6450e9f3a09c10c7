"""Self-test of the benchmark on tiny inputs.

Run from the root of a checkout: python3 perfbench/test_smoke.py

Shows that a clean smoke run reports every end-to-end metric with no
failure, that a deliberately wrong reference answer, for a driver-side
value and for a lane's parquet answer, is counted as a failure instead of
passing, that a dense-kernel request served by its builtin fallback is
counted as a failure, and that a traced run writes its span file and
splits its pass time into self times.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seed", "3",
                        "--seconds", "1", "--smoke", *args],
                       capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(p.stderr[-4000:])
    return json.loads(p.stdout.strip().splitlines()[-1])


class SmokeTest(unittest.TestCase):
    def test_clean_run_reports_every_metric(self):
        r = bench("--workload", "explore", "--trace", "0")
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertEqual(set(r["metrics"]), {n for n, _ in run.END_TO_END})

    def test_wrong_value_reference_is_counted(self):
        r = bench("--workload", "explore", "--trace", "0", "--inject-wrong", "groupby_cat")
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)
        # a request whose answer is wrong never counts toward batch_s
        self.assertNotIn("batch_s", r["metrics"])

    def test_wrong_lane_reference_is_counted(self):
        r = bench("--workload", "star", "--trace", "0", "--inject-wrong", "q_topk")
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)

    def test_fallback_is_counted(self):
        rows = [[0, 1.0, 2.0]]
        record = {"request": "groupby_cat", "kind": "values", "rows": rows,
                  "twin_rows": rows, "tol": 0.0, "kernel": "DenseCatAgg.scala",
                  "kernel_ran": False}
        why = check.run_checks([record])["groupby_cat"]
        self.assertIn("fallback", why)

    def test_traced_run_splits_its_pass(self):
        r = bench("--workload", "explore", "--trace", "1")
        self.assertTrue(r["correct"])
        spans = os.path.join(run.BUILD_DIR, "work", "explore", "out", "spans.json")
        with open(spans) as f:
            self.assertTrue(any(s["layer"] == "job" for s in json.load(f)))
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self_s = sum(v for k, v in m.items() if k.startswith("self."))
        # per request, a mean of self times against a median of latencies
        self.assertAlmostEqual(self_s / m["trace.batch_s"], 1.0, delta=0.25)
        self.assertIn("trace.overhead", m)


if __name__ == "__main__":
    unittest.main()
