#!/usr/bin/env python3
"""The benchmark's own test: the tiny-input smoke mode must run every
workload (the legs inside the traced runs), untraced and traced, pass every
output check, and report exactly the metrics BENCHMARK.json declares
(run.py checks the names and units).

    python3 perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))


class SmokeTest(unittest.TestCase):
    def test_every_workload_passes_its_checks(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True,
                           timeout=1200)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        results = [json.loads(l) for l in lines if l.startswith("{")]
        self.assertEqual(len(results), 1)
        total = results[0]
        self.assertTrue(total["correct"])
        self.assertEqual(total["failed"], 0)
        self.assertGreater(total["attempted"], 0)


if __name__ == "__main__":
    unittest.main()
