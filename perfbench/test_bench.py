#!/usr/bin/env python3
"""The benchmark's own test, at tiny sizes (sf0.001, depth 5).

    python3 perfbench/test_bench.py

- every workload emits every BENCHMARK.json metric with its unit, in
  both the untraced and the traced run;
- a planted wrong result fails the run;
- two back-to-back shuffle-heavy queries show zero cross-attribution
  in the task listener: every task lands in the group its stage was
  submitted under, and each group's task-level shuffle bytes equal
  Spark's own per-stage totals.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--seed", "3", "--seconds", "2", "--sf", "0.001", "--depth", "5"]


def run(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args, *TINY],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "null"
    return p.returncode, json.loads(last), p.stderr


class BenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def assert_metrics(self, result, declared):
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, {m["name"]: m["unit"] for m in declared})
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_every_metric_emitted(self):
        for w in self.spec["workloads"]:
            for trace, declared in ((0, self.spec["end_to_end"]), (1, self.spec["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    rc, res, err = run("--workload", w["name"], "--trace", str(trace))
                    self.assertEqual(rc, 0, err[-3000:])
                    self.assertTrue(res["correct"])
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual(res["failed"], 0)
                    self.assert_metrics(res, declared)

    def test_planted_wrong_result_fails(self):
        for w in self.spec["workloads"]:
            with self.subTest(workload=w["name"]):
                rc, res, err = run("--workload", w["name"], "--plant-wrong", "1")
                self.assertNotEqual(rc, 0)
                self.assertFalse(res["correct"])
                self.assertIn("WRONG", err)

    def test_no_cross_attribution(self):
        rc, res, err = run("--workload", "query_tail", "--selftest", "1")
        self.assertEqual(rc, 0, err[-3000:])
        self.assertEqual(res["misattributed_tasks"], 0)
        for k in (0, 1):  # the two shuffle-heavy queries, back to back
            gs = [v for g, v in res["groups"].items() if g.startswith(f"op{k}:")]
            tasks = sum(v["shuffle_write"] for v in gs)
            stages = sum(v["stage_shuffle_write"] for v in gs)
            self.assertGreater(tasks, 0)
            self.assertEqual(tasks, stages)


if __name__ == "__main__":
    unittest.main(verbosity=2)
