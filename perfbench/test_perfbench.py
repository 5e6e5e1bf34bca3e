#!/usr/bin/env python3
"""Self-test of the benchmark command. From the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

Each test starts the JVM; the whole file takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

ROOT = os.path.dirname(run.BENCH) or "."
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(*args):
    r = subprocess.run([sys.executable, os.path.join(run.BENCH, "run.py"), *args],
                       capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} exited {r.returncode}:\n{r.stderr[-3000:]}")
    lines = r.stdout.splitlines()
    report = {l.split()[1]: float(l.split()[2]) for l in lines if l.startswith("metric ")}
    return json.loads(lines[-1]), report


def requests(workload, seed, n=40):
    cp, stamp = run.build()
    d = run.scratch_dir("selftest")
    try:
        code, lines = run.java(["--mode", "requests", "--workload", workload, "--seed", str(seed),
                                "--count", str(n)], d, cp, stamp)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert code == 0, f"requests mode exited {code}"
    return lines


class BenchmarkSelfTest(unittest.TestCase):
    def check_metrics(self, result, specs):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        for m in specs:
            self.assertIn(m["name"], result["metrics"])
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_tiny_run_prints_every_metric(self):
        r, report = bench("--workload", "fleet_sf0.001", "--seed", "1", "--seconds", "2", "--trace", "0")
        self.assertTrue(r["correct"], r)
        self.assertEqual(r["failed"], 0)
        self.assertEqual(report["error_rate"], 0.0)
        self.check_metrics(r, SPEC["end_to_end"])
        r, _ = bench("--workload", "fleet_sf0.001", "--seed", "1", "--seconds", "2", "--trace", "1")
        self.assertTrue(r["correct"], r)
        self.check_metrics(r, SPEC["per_layer"])

    def test_seed_fixes_the_request_list(self):
        for w in ("fleet_sf0.001", "marts_sf0.1"):
            a, b, c = requests(w, 5), requests(w, 5), requests(w, 6)
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)

    def test_corrupt_golden_is_an_error(self):
        src = os.path.join(run.BENCH, "goldens")
        dst = os.path.join(run.build_root(), "selftest-goldens")
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)
        path = os.path.join(dst, "fleet_sf0.001.json")
        with open(path) as f:
            gold = json.load(f)
        for q, value in gold.items():
            rows, digest = value.split(":")
            gold[q] = f"{rows}:{int(digest) + 1}"
        with open(path, "w") as f:
            json.dump(gold, f)
        try:
            r, report = bench("--workload", "fleet_sf0.001", "--seed", "1", "--seconds", "2", "--trace", "0",
                              "--goldens-dir", dst)
        finally:
            shutil.rmtree(dst, ignore_errors=True)
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)
        self.assertGreater(report["error_rate"], 0.0)
        self.assertLess(r["metrics"]["success_rate"]["value"], 1.0)


if __name__ == "__main__":
    unittest.main()
