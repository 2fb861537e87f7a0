#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

Checks the input generator's quirks and bookkeeping, runs every workload
traced and untraced at --size tiny against BENCHMARK.json's metric lists,
and checks that the command fails, without a result line, in a directory
that holds only the benchmark. Takes about five minutes on four cores.
"""
import csv
import json
import os
import random
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import argen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run(workload, trace, cwd=ROOT, seed=7):
    return subprocess.run(
        SPEC["command"] + ["--workload", workload, "--seed", str(seed), "--seconds", "1",
                           "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)


class Generator(unittest.TestCase):

    def test_quirks_and_bookkeeping(self):
        first, second, changed = argen.generate(11, 3000)
        path = os.path.join(ROOT, ".bench_build", "selftest.csv")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        argen.write_csv(path, first, 11)
        with open(path) as f:
            rows = list(csv.DictReader(f))
        self.assertEqual(list(rows[0]), argen.HEADER)
        self.assertEqual(len(rows), 3000)
        col = lambda c: [r[c] for r in rows]  # noqa: E731
        self.assertIn("N/A", col("BillTotal"))
        self.assertIn("", col("BillTotal"))
        self.assertIn("", col("DueDate"))
        self.assertIn("Due on receipt", col("CustomerTerms"))
        self.assertIn("", col("ContactEmail"))
        self.assertTrue(any(n != n.strip() for n in col("CustomerName")))
        self.assertTrue(any("&" in n for n in col("CustomerName")))
        self.assertTrue(any(n.strip().islower() for n in col("CustomerName")))
        self.assertEqual(len(second), 3150)
        self.assertEqual(len(changed), 150)
        self.assertEqual(len({i.number for i in second}), len(second))
        exp = argen.ingest_expectations(first)
        self.assertEqual(exp["errors"], col("BillTotal").count("N/A"))
        self.assertEqual(exp["customers"], len({n.strip() for n in col("CustomerName")}))

    def test_plan_holds_the_mix(self):
        first, _, _ = argen.generate(11, 3000)
        plan = argen.ServeModel(first).plan(random.Random(3), 200)
        kinds = [p[0] for p in plan]
        for kind, share in argen.MIX:
            self.assertEqual(kinds.count(kind), 2 * share, kind)


class Contract(unittest.TestCase):

    def check_run(self, workload, trace):
        p = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"], p.stdout)
        self.assertGreaterEqual(last["attempted"], 1)
        spec = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual({k: v["unit"] for k, v in last["metrics"].items()},
                         {m["name"]: m["unit"] for m in spec})
        failed = [json.loads(x)["failed_check"] for x in lines if '"failed_check"' in x]
        # the one known failure: a non-numeric `limit` answered with a 500
        self.assertLessEqual(set(failed), {"serve.bad_limit"})
        return last

    def test_workloads(self):
        for workload in (w["name"] for w in SPEC["workloads"]):
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    last = self.check_run(workload, trace)
                    if not trace:
                        for m in SPEC["end_to_end"]:
                            self.assertGreater(last["metrics"][m["name"]]["value"], 0, m)

    def test_fails_without_the_program(self):
        bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run(SPEC["workloads"][0]["name"], 0, cwd=bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)
        shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
