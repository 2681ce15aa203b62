#!/usr/bin/env python3
"""Self-test of the benchmark harness.

Run from the root of a checkout (about ten minutes):

    python3 perfbench/tests/test_harness.py

It checks, on tiny inputs, that
  - every workload prints every metric of BENCHMARK.json, with its
    unit, in both modes, and passes its output checks;
  - an injected wrong expected output makes every rep fail
    (failed_frac = 1);
  - each traced rep's spans cover at least 90% of its wall time, and
    the tracing overhead is reported.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ("zonal_polygons", "job_percentiles", "daily_append",
             "query_replay")


def bench(workload, trace, *extra):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny",
         *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited "
                             f"{out.returncode}: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


class HarnessTest(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def assert_metrics(self, res, wanted):
        self.assertEqual(set(res), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertEqual({m["name"]: m["unit"] for m in wanted},
                         {k: v["unit"] for k, v in res["metrics"].items()})
        for k, v in res["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_every_workload_emits_every_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                e2e = bench(w, 0)
                self.assert_metrics(e2e, self.spec["end_to_end"])
                self.assertTrue(e2e["correct"], w)
                self.assertEqual(e2e["failed"], 0)
                if w in [x["name"] for x in self.spec["workloads"]]:
                    for m in self.spec["end_to_end"]:
                        self.assertGreater(e2e["metrics"][m["name"]]["value"],
                                           0, f"{w} {m['name']}")
                layers = bench(w, 1)
                self.assert_metrics(layers, self.spec["per_layer"])
                self.assertTrue(layers["correct"], w)
                got = {k: v["value"] for k, v in layers["metrics"].items()}
                self.assertGreaterEqual(got["trace.span_coverage"], 0.9, w)
                self.assertIn("trace.overhead_frac", got)
                self.assertEqual(got["failed_frac"], 0.0)

    def test_wrong_expected_output_fails_every_rep(self):
        res = bench("zonal_polygons", 1, "--inject-wrong")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])
        self.assertEqual(res["metrics"]["failed_frac"]["value"], 1.0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
