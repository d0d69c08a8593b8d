#!/usr/bin/env python3
"""The benchmark's own tests, on the tiny sf0.001 fixture.

Run from the repository root:

    python3 -m unittest perfbench/test_run.py

Each workload must emit exactly the metrics BENCHMARK.json lists, with
their units, and a wrong expected hash must be reported as a failure.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run(workload, trace, *extra):
    """Runs the benchmark; returns (stdout lines, final JSON object)."""
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--fixture", "sf0.001", *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    if r.returncode != 0:
        raise AssertionError(f"{cmd} exited {r.returncode}:\n{r.stderr}")
    lines = r.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


class MetricsTest(unittest.TestCase):
    def check(self, result, specs):
        self.assertEqual(set(result),
                         {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in specs}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for v in result["metrics"].values():
            self.assertIsInstance(v["value"], float)

    def test_every_workload_emits_every_metric(self):
        for w in BENCH["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                _, res = run(w["name"], 0)
                self.check(res, BENCH["end_to_end"])
                self.assertGreater(res["metrics"]["wall_s"]["value"], 0)
            with self.subTest(workload=w["name"], trace=1):
                _, res = run(w["name"], 1)
                self.check(res, BENCH["per_layer"])


class WrongHashTest(unittest.TestCase):
    def test_wrong_expected_hash_is_a_failure(self):
        with open(os.path.join(HERE, "expected", "sf0.001.json")) as f:
            expected = json.load(f)
        workload = BENCH["workloads"][0]["name"]
        with open(os.path.join(HERE, "workloads.json")) as f:
            victim = json.load(f)["workloads"][workload]["queries"][0]
        h = expected[victim]["hash"]
        expected[victim]["hash"] = ("0" if h[0] != "0" else "1") + h[1:]
        path = os.path.join(ROOT, ".bench_build", "wrong_expected.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(expected, f)
        lines, res = run(workload, 0, "--expected", path)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertTrue(any(l.startswith(f"FAILED check/{victim}:")
                            for l in lines), lines)


if __name__ == "__main__":
    sys.exit(unittest.main())
