"""Self-test of the benchmark: one pass of each workload at a small scale.

Checks that the last stdout line is the result JSON, that every metric
BENCHMARK.json names is printed with its unit, and that a planted wrong
result is counted as a failure.

Run from the repository root:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload, trace, *extra):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0.1", "--trace", str(trace),
         "--scale", "0.5", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"run.py exited {r.returncode}:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


class SelfTest(unittest.TestCase):

    def assert_metrics(self, result, spec):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        want = {m["name"]: m["unit"] for m in spec}
        got = {name: m["unit"] for name, m in result["metrics"].items()}
        self.assertEqual(got, want)
        for m in result["metrics"].values():
            self.assertIsInstance(m["value"], (int, float))

    def test_every_metric_printed_with_unit(self):
        for workload in W.WORKLOADS:
            for trace, spec in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=workload, trace=trace):
                    lines, result = run(workload, trace)
                    self.assert_metrics(result, spec)
                    self.assertTrue(result["correct"], "\n".join(lines[-40:]))
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 2 * len(W.WORKLOADS[workload]["keys"]))
                    for m in spec:
                        self.assertIn(f"metric {m['name']} ", "\n".join(lines))

    def test_planted_wrong_result_counts_as_failed(self):
        lines, result = run("hot_key", 0, "--plant-wrong", "ts_interpolate")
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        frac = next(l for l in lines if l.startswith("failed_frac "))
        self.assertGreater(float(frac.split()[1]), 0.0)
        self.assertTrue(any(l.startswith("FAILED ts_interpolate:") for l in lines))


if __name__ == "__main__":
    unittest.main()
