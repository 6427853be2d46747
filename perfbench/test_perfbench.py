"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 -m unittest perfbench/test_perfbench.py

Each end-to-end case runs one JVM on --tiny inputs (about a minute each).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def bench(workload, *extra, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--tiny", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


def result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


class TestWorkloads(unittest.TestCase):
    def test_every_metric_with_unit_and_no_failures(self):
        for w in BENCHMARK_WORKLOADS:
            for trace, declared in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
                with self.subTest(workload=w, trace=trace):
                    res, out = result(bench(w, "--trace", str(trace)))
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreater(res["attempted"], 0)
                    self.assertIn("fail_frac 0.0000", out)
                    self.assertEqual({m["name"]: m["unit"] for m in declared},
                                     {k: v["unit"] for k, v in res["metrics"].items()})
                    for m in declared:
                        self.assertIsInstance(res["metrics"][m["name"]]["value"], float)

    def test_corrupted_output_is_counted_as_failure(self):
        for w in BENCHMARK_WORKLOADS:
            with self.subTest(workload=w):
                res, _ = result(bench(w, "--trace", "0", "--corrupt"))
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)

    def test_fails_without_engine_sources(self):
        bare = os.path.join(ROOT, ".bench_work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p = bench(BENCHMARK_WORKLOADS[0], "--trace", "0", cwd=bare)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare)


class TestGenerators(unittest.TestCase):
    def digest(self, name, seed, d):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        run.generate(name, d, seed, tiny=True)
        h = hashlib.sha256()
        for r, _, fs in sorted(os.walk(d)):
            for f in sorted(fs):
                with open(os.path.join(r, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
        shutil.rmtree(d)
        return h.hexdigest()

    def test_same_seed_same_inputs(self):
        d = os.path.join(ROOT, ".bench_work", "gen-test")
        for w in BENCHMARK_WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(self.digest(w, 3, d), self.digest(w, 3, d))
                self.assertNotEqual(self.digest(w, 3, d), self.digest(w, 4, d))

    def test_hellings_downs_matches_closed_form(self):
        self.assertEqual(gen.hellings_downs(np.array([1.0]))[0], 0.0)
        # x = 1/2: 1.5 * 0.5 * ln 0.5 - 0.125 + 0.5
        self.assertAlmostEqual(gen.hellings_downs(np.array([0.0]))[0],
                               0.75 * np.log(0.5) + 0.375)


BENCHMARK_WORKLOADS = [w["name"] for w in BENCH["workloads"]]

if __name__ == "__main__":
    unittest.main()
