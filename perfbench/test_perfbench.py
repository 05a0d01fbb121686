#!/usr/bin/env python3
"""Smoke test of the benchmark: python3 perfbench/test_perfbench.py

Runs every workload in smoke mode (sf0.001, a few keys or triggers), traced
and untraced, and asserts that
  * the last stdout line is the result object, with every metric that
    BENCHMARK.json names printed as a finite number with its unit, and the
    traced pipeline's useful-work ratios above 1;
  * the run leaves the repository tree byte-identical outside .bench_build/;
  * in a directory holding only BENCHMARK.json and perfbench/, the command
    fails without printing a result.
"""
import hashlib
import json
import math
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def tree(root):
    """Path -> sha256 of every file under `root`, skipping build output."""
    out = {}
    for p in sorted(root.rglob("*")):
        rel = p.relative_to(root)
        if rel.parts[0] in (".bench_build", ".git") or not p.is_file():
            continue
        out[str(rel)] = hashlib.sha256(p.read_bytes()).hexdigest()
    return out


def run(cwd, workload, trace):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


class SmokeTest(unittest.TestCase):
    def test_every_workload_prints_every_metric_and_leaves_the_tree_alone(self):
        before = tree(ROOT)
        for i, w in enumerate(SPEC["workloads"]):
            for trace in (i % 2, 1 - i % 2):
                with self.subTest(workload=w["name"], trace=trace):
                    p = run(ROOT, w["name"], trace)
                    self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                    res = json.loads(p.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"], p.stdout)
                    self.assertGreaterEqual(res["attempted"], 1)
                    self.assertEqual(res["failed"], 0)
                    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
                    self.assertEqual(set(res["metrics"]), {m["name"] for m in want})
                    for m in want:
                        got = res["metrics"][m["name"]]
                        self.assertEqual(got["unit"], m["unit"], m["name"])
                        self.assertIsInstance(got["value"], (int, float), m["name"])
                        self.assertTrue(math.isfinite(got["value"]), m["name"])
                    if trace and w["name"] == "pipeline_incremental":
                        # counted from the tasks: the corpus outgrows each delta
                        for name in ("etl.files_scanned_per_new_file",
                                     "etl.rows_loaded_per_new_row"):
                            self.assertGreater(res["metrics"][name]["value"], 1.0, name)
        self.assertEqual(before, tree(ROOT), "a run changed files outside .bench_build/")

    def test_without_the_program_it_fails_without_a_result(self):
        bare = ROOT / ".bench_build" / "bare_checkout"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for path in SPEC["paths"]:
            shutil.copytree(ROOT / path, bare / path,
                            ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p = run(bare, SPEC["workloads"][0]["name"], 0)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(unittest.main())
