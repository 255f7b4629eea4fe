#!/usr/bin/env python3
"""The benchmark's own tests (tiny inputs; a few minutes in all).

    python3 perfbench/test_perfbench.py

- every workload, untraced and traced, prints each metric BENCHMARK.json
  names, with its unit, and its checks pass;
- a deliberately corrupted result (one PageRank score nudged by 1e-3, one
  WCC label swapped) raises the failed count and is named on stdout;
- without the library sources the benchmark exits non-zero and prints no
  result.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(*args, cwd=ROOT, timeout=600):
    r = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd, timeout=timeout,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if r.returncode == 0 and lines else None
    return r, result


def tiny(workload, trace, *extra):
    return bench("--workload", workload, "--seed", "7", "--seconds", "0", "--trace", trace,
                 "--size", "tiny", *extra)


class MetricsPrint(unittest.TestCase):
    def test_every_workload_prints_every_metric_with_its_unit(self):
        for w in [x["name"] for x in SPEC["workloads"]]:
            for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    r, res = tiny(w, trace)
                    self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"], r.stdout[-3000:])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in SPEC[key]}
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, want)
                    for k, v in res["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)
                    if trace == "0":
                        for k, v in res["metrics"].items():
                            self.assertGreater(v["value"], 0, k)


class CorruptedResults(unittest.TestCase):
    def check_caught(self, workload, what):
        r, res = tiny(workload, "0", "--corrupt", what)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertIn(f"FAILED {what}", r.stdout)

    def test_nudged_pagerank_score_is_a_failed_op(self):
        self.check_caught("crawl_e2e", "pagerank")

    def test_swapped_wcc_label_is_a_failed_op(self):
        self.check_caught("superstep_df", "wcc")


class Standalone(unittest.TestCase):
    def test_without_library_sources_exits_nonzero_without_a_result(self):
        bare = ROOT / ".bench_build" / "standalone-test"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            shutil.copytree(HERE, bare / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            r, _ = bench("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                         "--seconds", "1", "--trace", "0", cwd=bare, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertFalse(any(l.startswith("{") for l in r.stdout.splitlines()))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
