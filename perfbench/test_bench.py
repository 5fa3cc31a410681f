#!/usr/bin/env python3
"""Smoke and determinism tests for the benchmark, at sf0.001 size (scale 0.01).

Run from the repository root:  python3 perfbench/test_bench.py
Each case launches perfbench/run.py, so the first one also builds.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
LISTED_WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# `ann` runs through the same command but is not in BENCHMARK.json
WORKLOADS = LISTED_WORKLOADS + ["ann"]
SMALL = ["--scale", "0.01", "--seconds", "1"]


def run(workload, seed, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)] + SMALL + list(extra)
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, f"{workload} exited {p.returncode}:\n{p.stdout[-2000:]}"
    return json.loads(lines[-1]), lines[:-1]


class Smoke(unittest.TestCase):
    def check_shape(self, result, specs, exact=True):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        names = {m["name"] for m in specs}
        if exact:
            self.assertEqual(set(result["metrics"]), names)
        else:
            self.assertLessEqual(names, set(result["metrics"]))
        for m in specs:
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"], m["name"])

    def test_untraced_runs_report_every_end_to_end_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                result, report = run(w, 7, 0)
                self.check_shape(result, SPEC["end_to_end"])
                self.assertTrue(result["correct"], "\n".join(report))
                self.assertEqual(result["failed"], 0)
                for m in SPEC["end_to_end"]:
                    self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])
                    self.assertTrue(any(ln.startswith(f"# metric {m['name']} ") for ln in report))
                self.assertTrue(any(ln.startswith("# metric error_rate ") for ln in report))
                self.assertTrue(any(ln.startswith("# run {") for ln in report))

    def test_planted_wrong_result_raises_error_rate(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                result, _ = run(w, 7, 0, "--plant", "1")
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)

    def test_traced_counts_repeat(self):
        # job counts and lake shape are deterministic for one seed; times
        # and byte volumes are not compared
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a, _ = run(w, 11, 1)
                b, _ = run(w, 11, 1)
                self.check_shape(a, SPEC["per_layer"], exact=w in LISTED_WORKLOADS)
                self.assertTrue(a["correct"] and b["correct"])
                names = [n for n in a["metrics"] if n.endswith(".jobs")] + \
                    ["ingest.live_files", "ingest.versions"]
                for n in names:
                    self.assertEqual(a["metrics"][n]["value"], b["metrics"][n]["value"], n)


if __name__ == "__main__":
    unittest.main(verbosity=2)
