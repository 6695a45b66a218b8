#!/usr/bin/env python3
"""Self-test of the benchmark at toy size.

    python3 perfbench/test/test_perfbench.py

Checks that the generators repeat per seed and the oracles agree with
TypedVersionedJoins.fullOuter (graft.perfbench.SelfTest), and that every
workload, traced and untraced, passes its output check and prints
exactly the metric names BENCHMARK.json declares.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.dont_write_bytecode = True

from build import ROOT, BUILD_DIR, build  # noqa: E402
from run import WORKLOADS, java_command  # noqa: E402


class PerfbenchSelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classes = build()
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_generators_and_oracles(self):
        tmp = os.path.join(BUILD_DIR, "selftest-tmp")
        os.makedirs(tmp, exist_ok=True)
        try:
            p = subprocess.run(java_command(self.classes, tmp) +
                               ["graft.perfbench.SelfTest"],
                               capture_output=True, text=True, timeout=300)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        print(p.stdout, end="")
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])

    def test_workloads_print_declared_metrics(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(WORKLOADS))
        declared = {"0": [m["name"] for m in self.spec["end_to_end"]],
                    "1": [m["name"] for m in self.spec["per_layer"]]}
        for workload in WORKLOADS:
            for trace in ("0", "1"):
                with self.subTest(workload=workload, trace=trace):
                    p = subprocess.run(
                        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                         "--workload", workload, "--seed", "3", "--seconds", "2",
                         "--trace", trace, "--size", "tiny"],
                        capture_output=True, text=True, cwd=ROOT, timeout=180)
                    self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                    result = json.loads(p.stdout.strip().splitlines()[-1])
                    self.assertTrue(result["correct"])
                    self.assertEqual(result["failed"], 0)
                    self.assertEqual(sorted(result["metrics"]),
                                     sorted(declared[trace]))


if __name__ == "__main__":
    unittest.main(verbosity=2)
