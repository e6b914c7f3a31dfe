#!/usr/bin/env python3
"""Self-test of the benchmark harness on the sf0.001 corpus.

    python3 perfbench/test_smoke.py [WORKLOAD...]

Runs each workload once untraced and once traced in --smoke mode, and checks
that the last line is the result object, that every end-to-end and
per-layer metric prints with its unit, and that failed_frac is 0.
"""
import json
import os
import subprocess
import sys
import unittest

import run

WORKLOADS = sys.argv[1:] or list(run.WORKLOADS)


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        proc = subprocess.run(
            [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "0", "--trace", str(trace), "--smoke"],
            capture_output=True, text=True, timeout=600)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], proc.stdout)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        expected = run.END_TO_END if trace == 0 else run.PER_LAYER
        self.assertEqual(set(result["metrics"]), set(expected))
        for name, unit in expected.items():
            self.assertEqual(result["metrics"][name]["unit"], unit)
            self.assertIsInstance(result["metrics"][name]["value"], (int, float))
        table = {line.split()[0]: line.split()[1:] for line in lines[:-1] if line.strip()}
        self.assertEqual(float(table["failed_frac"][0]), 0.0)
        printed = {**expected, **run.INFO} if trace == 0 else expected
        for name, unit in printed.items():
            self.assertEqual(table[name][1], unit, name)


for w in WORKLOADS:
    for t in (0, 1):
        setattr(Smoke, f"test_{w}_trace{t}", lambda self, w=w, t=t: self.check(w, t))

if __name__ == "__main__":
    unittest.main(argv=sys.argv[:1], verbosity=2)
