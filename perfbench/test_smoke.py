"""Tiny-size smoke test of every benchmark workload: each must finish,
pass its own correctness checks and report every declared metric.

    python3 -m unittest perfbench/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace),
                        "--scale", "0.05"], cwd=ROOT, capture_output=True, text=True,
                       timeout=400)
    return p.returncode, p.stdout.strip().splitlines()


class Smoke(unittest.TestCase):
    def check(self, workload, trace=0):
        rc, lines = run(workload, trace)
        self.assertEqual(rc, 0, lines[-5:])
        res = json.loads(lines[-1])
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        want = {m["name"] for m in b["end_to_end" if trace == 0 else "per_layer"]}
        self.assertEqual(set(res["metrics"]), want)
        if trace == 0:
            self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()))

    def test_catchup(self):
        self.check("catchup")

    def test_live(self):
        self.check("live")

    def test_delta(self):
        self.check("delta")

    def test_queries(self):
        self.check("queries")

    def test_traced(self):
        self.check("catchup", trace=1)


if __name__ == "__main__":
    unittest.main()
