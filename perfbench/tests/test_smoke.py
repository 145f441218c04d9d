"""Smoke test of the benchmark itself, on sf0.001 tables.

    python3 -m unittest perfbench/tests/test_smoke.py     (from the repo root)

For every workload in BENCHMARK.json it runs three short passes and checks that
each end-to-end metric prints by name with its declared unit and that the
result line is a correct, failure-free record. One traced run checks the
per-layer metrics the same way, and a job name missing from the registry
must raise the fail ratio.
"""
import json
import os
import re
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                        "--seed", "3", "--seconds", "60", "--passes", "3", "--sf", "0.001",
                        *args],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"run.py {args} failed:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    printed = dict(re.findall(r"^metric (\S+) = \S+ (\S+)", r.stdout, re.M))
    ratio = float(re.search(r"^fail_ratio = (\S+)", r.stdout, re.M).group(1))
    return printed, ratio, json.loads(lines[-1])


class SmokeTest(unittest.TestCase):

    def assert_metrics(self, declared, printed, record):
        for m in declared:
            self.assertEqual(printed.get(m["name"]), m["unit"], m["name"])
            self.assertEqual(record["metrics"][m["name"]]["unit"], m["unit"])
        self.assertEqual(sorted(record["metrics"]), sorted(m["name"] for m in declared))

    def test_every_workload_prints_every_end_to_end_metric(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                printed, ratio, record = bench("--workload", w["name"], "--trace", "0")
                self.assert_metrics(SPEC["end_to_end"], printed, record)
                self.assertTrue(record["correct"])
                self.assertEqual(record["failed"], 0)
                self.assertEqual(ratio, 0.0)

    def test_traced_run_prints_every_per_layer_metric(self):
        printed, _, record = bench("--workload", SPEC["workloads"][0]["name"], "--trace", "1")
        self.assert_metrics(SPEC["per_layer"], printed, record)

    def test_unknown_job_raises_fail_ratio(self):
        printed, ratio, record = bench("--workload", SPEC["workloads"][0]["name"], "--trace", "0",
                                       "--jobs", "q02,no_such_job")
        self.assertGreater(ratio, 0.0)
        self.assertGreater(record["failed"], 0)
        self.assertFalse(record["correct"])


if __name__ == "__main__":
    unittest.main()
