#!/usr/bin/env python3
"""The benchmark's own tests, on tiny inputs (--smoke 1).

For every workload: an untraced and a traced run print every metric that
BENCHMARK.json names, with its unit, and pass their output checks; a run
with one output corrupted on purpose is reported as incorrect.

Run from the root of a graft checkout:
    python3 -m unittest perfbench/test_smoke.py
"""
import json
import os
import subprocess
import unittest

ROOT = os.getcwd()
RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def bench(workload, trace=0, corrupt=0):
    r = subprocess.run(
        ["python3", RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke", "1",
         "--corrupt", str(corrupt)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def assert_metrics(self, out, declared):
        self.assertEqual(set(out), {"correct", "attempted", "failed",
                                    "metrics"})
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        self.assertEqual(got, want)
        for name, m in out["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)

    def check_workload(self, workload):
        plain = bench(workload)
        self.assert_metrics(plain, self.spec["end_to_end"])
        self.assertTrue(plain["correct"], plain)
        self.assertEqual(plain["failed"], 0)
        # times are never 0; storage can be on three tiny queries
        for m in self.spec["end_to_end"]:
            if m["unit"] == "s":
                self.assertGreater(plain["metrics"][m["name"]]["value"], 0,
                                   m["name"])
        traced = bench(workload, trace=1)
        self.assert_metrics(traced, self.spec["per_layer"])
        self.assertTrue(traced["correct"], traced)
        broken = bench(workload, corrupt=1)
        self.assertFalse(broken["correct"], broken)
        self.assertGreaterEqual(broken["failed"], 1)

    def test_spine(self):
        self.check_workload("spine")

    def test_headline_warm(self):
        self.check_workload("headline_warm")

    def test_workloads_declared(self):
        names = [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(names, ["spine", "headline_warm"])


if __name__ == "__main__":
    unittest.main()
