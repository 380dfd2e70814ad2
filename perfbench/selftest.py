#!/usr/bin/env python3
"""Self-tests of the benchmark's own code (no engine needed).

    python3 perfbench/selftest.py
"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build")
                                    if os.path.isdir(os.path.join(ROOT, ".bench_build"))
                                    else None)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def plan_stream(self, seed):
        plan, logs, cdc = gen.warm_plan(seed)
        ticks = [plan.tick(30) for _ in range(20)]
        return json.dumps([logs, cdc, ticks, plan.flush(), plan.expected()],
                          sort_keys=True)

    def test_same_seed_same_stream(self):
        self.assertEqual(self.plan_stream(7), self.plan_stream(7))
        self.assertNotEqual(self.plan_stream(7), self.plan_stream(8))

    def test_same_seed_same_files(self):
        for d in ("a", "b"):
            gen.main(["prep", "--seed", "3", "--out", os.path.join(self.tmp, d)])
            gen.main(["tables", "--seed", "3", "--scale", "0.001",
                      "--out", os.path.join(self.tmp, d, "tables")])
        import pyarrow.parquet as pq
        for base, _, files in os.walk(os.path.join(self.tmp, "a")):
            for f in files:
                a = os.path.join(base, f)
                b = a.replace(os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b"))
                if f.endswith(".parquet"):
                    self.assertTrue(pq.read_table(a).equals(pq.read_table(b)), f)
                else:
                    with open(a, "rb") as x, open(b, "rb") as y:
                        self.assertEqual(x.read(), y.read(), f)

    def test_ground_truth_counts_every_key_once(self):
        plan = gen.live_plan(5)
        for _ in range(80):
            plan.tick(40)
        plan.flush()
        exp = plan.expected()
        self.assertEqual(sum(sum(h.values()) for h in exp["dau"].values()), len(plan.dau))
        self.assertEqual(sum(e["ct"] for e in exp["items"].values()), len(plan.wide))
        self.assertEqual(set(exp["dau"]), {"2024-03-09", "2024-03-10"})


class PercentileTest(unittest.TestCase):
    def test_reports_count_and_supported_tail(self):
        for n, q in ((1000, 0.99), (100, 0.9), (250, 0.96), (5000, 0.99)):
            p = run.percentiles(list(range(n)))
            self.assertEqual(p["n"], n)
            self.assertEqual(p["tail_q"], q)
            beyond = sum(1 for x in range(n) if x > p["tail"])
            self.assertGreaterEqual(beyond, 10, (n, p))
            self.assertEqual(p["p50"], (n + 1) // 2 - 1)

    def test_too_few_samples_have_no_tail(self):
        p = run.percentiles([3.0, 1.0, 2.0])
        self.assertEqual(p["n"], 3)
        self.assertIsNone(p["tail_q"])
        self.assertEqual(p["tail"], p["p50"])


class SpecTest(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_shape(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        self.assertEqual(set(w["name"] for w in s["workloads"]), set(run.WORKLOADS))

    def test_names_and_units(self):
        s = self.spec
        names = [m["name"] for m in s["end_to_end"] + s["per_layer"] + s["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for m in s["end_to_end"] + s["per_layer"]:
            self.assertRegex(m["unit"], self.UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in s["end_to_end"])}])
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)


if __name__ == "__main__":
    unittest.main()
