#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on tiny inputs.

Usage (from the repository root): python3 perfbench/smoke_test.py

For each workload it makes two short runs. The untraced run must print
every end_to_end metric of BENCHMARK.json with its unit and pass its
correctness checks. The traced run is given a deliberately wrong expected
model: it must print every per_layer metric with its unit and report the
mismatch as a failed operation. A last run gives etl_redirects duplicate
redirect titles and expects a correct result; it fails while WikiEtl.run
turns two redirect pages with one title into four article rows.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
TINY = ["--tiny", "--seconds", "1"]


def bench(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--trace", str(trace), *TINY, *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py exited {p.returncode}: {p.stdout[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def check_metrics(self, out, wanted):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(out["attempted"], 1)
        for m in wanted:
            got = out["metrics"].get(m["name"])
            self.assertIsNotNone(got, f"{m['name']} not printed")
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        self.assertEqual(set(out["metrics"]), {m["name"] for m in wanted})

    def test_workloads(self):
        for w in (w["name"] for w in SPEC["workloads"]):
            with self.subTest(workload=w, run="untraced"):
                ok = bench(w, 0)
                self.check_metrics(ok, SPEC["end_to_end"])
                self.assertTrue(ok["correct"], f"{ok['failed']} of {ok['attempted']} operations failed")
                self.assertEqual(ok["failed"], 0)

            with self.subTest(workload=w, run="traced, wrong model"):
                wrong = bench(w, 1, "--corrupt-model")
                self.check_metrics(wrong, SPEC["per_layer"])
                self.assertFalse(wrong["correct"])
                self.assertGreater(wrong["failed"], 0)

    def test_duplicate_redirect_titles(self):
        out = bench("etl_redirects", 0, "--dup-redirect-titles")
        self.check_metrics(out, SPEC["end_to_end"])
        self.assertTrue(out["correct"], f"{out['failed']} of {out['attempted']} operations failed")


if __name__ == "__main__":
    unittest.main()
