"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests -v

Run from the root of a graft checkout. Each test starts the harness
(the first one builds it) at a tiny input scale, so the whole file
takes a few minutes. The tiny scale has its own stored expected
outputs (`--scale 0.1` rows in perfbench/expected_outputs.tsv).
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# the benchmark's workloads plus analytics_queries, runnable by name
WORKLOADS = sorted({w["name"] for w in SPEC["workloads"]} | {"analytics_queries"})


def bench(*args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stdout


def tiny(workload, trace, *extra):
    return bench("--workload", workload, "--seed", "7", "--seconds", "1",
                 "--trace", str(trace), "--scale", "0.1", *extra)


class Smoke(unittest.TestCase):
    """Every workload runs at tiny scale and prints every metric with its name and unit."""

    def check(self, workload, trace, metrics):
        rc, result, out = tiny(workload, trace)
        self.assertEqual(rc, 0, out)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in metrics}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertEqual(set(v), {"value", "unit"}, k)
            self.assertIsInstance(v["value"], (int, float), k)
        self.assertIn("cores=", out)
        self.assertIn("seed=7", out)
        self.assertIn("# inputs ", out)
        return result

    def test_end_to_end_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = self.check(w, 0, SPEC["end_to_end"])
                for k, v in r["metrics"].items():
                    self.assertGreater(v["value"], 0, k)

    def test_per_layer_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = self.check(w, 1, SPEC["per_layer"])
                self.assertGreater(r["metrics"]["sched.jobs"]["value"], 0)
                if w == "etl_jobs":
                    amp = r["metrics"]["sources.read_amplification"]["value"]
                    self.assertGreater(amp, 1.0)


class FailClosed(unittest.TestCase):

    def test_injected_failure_raises_fail_ratio(self):
        rc, result, out = tiny("etl_jobs", 0, "--inject-fail", "load_csv")
        self.assertNotEqual(rc, 0, out)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(result["failed"] / result["attempted"], 0)
        self.assertIn("fail_ratio=", out)

    def test_unknown_workload_fails_without_result(self):
        rc, result, _ = tiny("no_such_workload", 0)
        self.assertNotEqual(rc, 0)
        self.assertIsNone(result)

    def test_benchmark_alone_fails_without_result(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", ".work", ".results"))
            rc, result, _ = bench("--workload", "etl_jobs", "--seed", "1", "--seconds", "1",
                                  "--trace", "0", cwd=d)
        self.assertNotEqual(rc, 0)
        self.assertIsNone(result)


if __name__ == "__main__":
    unittest.main()
