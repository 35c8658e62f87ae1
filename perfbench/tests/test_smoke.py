"""Smoke run of all three workloads at the smallest size: sf0.001 for the
batch workloads, one low event rate for the stream. Builds on first use;
takes a few minutes.

    python3 -m unittest perfbench/tests/test_smoke.py    (from the repo root)
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402


def bench(workload, trace):
    r = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-3000:]
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2][len("perfbench "):])


class SmokeTest(unittest.TestCase):
    def check(self, workload):
        for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            res, detail = bench(workload, trace)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"], detail.get("wrong"))
            self.assertEqual(res["failed"], 0)
            self.assertGreaterEqual(res["attempted"], 1)
            self.assertEqual(set(res["metrics"]), set(names))
            for k, m in res["metrics"].items():
                self.assertEqual(m["unit"], names[k])
                self.assertIsInstance(m["value"], (int, float), k)
            if trace == 0:
                for k in names:
                    self.assertGreater(res["metrics"][k]["value"], 0, k)

    def test_sf01_mix(self):
        self.check("sf01-mix")

    def test_x10_mix(self):
        self.check("x10-mix")

    def test_stream_events(self):
        self.check("stream-events")


if __name__ == "__main__":
    unittest.main()
