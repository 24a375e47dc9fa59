#!/usr/bin/env python3
"""The benchmark's own tests, on small inputs (about 15 s per run).

    python3 perfbench/test_smoke.py

Each workload must pass its output check and print exactly the metrics
BENCHMARK.json names; a corrupted expected value must fail the check; and the
benchmark must refuse to run without graft's sources.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(*extra, cwd=ROOT, script=BENCH / "run.py"):
    r = subprocess.run([sys.executable, str(script), "--seed", "3", "--seconds", "1", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith('{"correct"') else None
    return r.returncode, result, r.stdout + r.stderr


class SmokeTest(unittest.TestCase):

    def test_workloads_pass_their_checks(self):
        names = {m["name"] for m in SPEC["end_to_end"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, res, log = run("--workload", w, "--trace", "0", "--smoke")
                self.assertEqual(code, 0, log)
                self.assertTrue(res["correct"], log)
                self.assertEqual(res["failed"], 0, log)
                self.assertGreaterEqual(res["attempted"], 1)
                self.assertEqual(set(res["metrics"]), names)
                for m in res["metrics"].values():
                    self.assertGreater(m["value"], 0)

    def test_traced_run_prints_per_layer_metrics(self):
        names = {m["name"] for m in SPEC["per_layer"]}
        code, res, log = run("--workload", "jq_scan", "--trace", "1", "--smoke")
        self.assertEqual(code, 0, log)
        self.assertTrue(res["correct"], log)
        self.assertEqual(set(res["metrics"]), names)
        self.assertEqual(res["metrics"]["jq.error_entries"]["value"], 0)

    def test_corrupted_expected_value_fails_the_check(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, res, log = run("--workload", w, "--trace", "0", "--smoke", "--corrupt-expected")
                self.assertEqual(code, 0, log)
                self.assertFalse(res["correct"], log)
                self.assertGreaterEqual(res["failed"], 1)

    def test_refuses_to_run_without_graft_sources(self):
        bare = BENCH / ".work" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(BENCH, bare / BENCH.name, ignore=shutil.ignore_patterns(".build", ".work"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        try:
            code, res, log = run("--workload", WORKLOADS[0], "--trace", "0", cwd=bare,
                                 script=bare / BENCH.name / "run.py")
            self.assertNotEqual(code, 0, log)
            self.assertIsNone(res, log)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
