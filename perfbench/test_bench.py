"""Tests of the benchmark itself: a small-scale smoke run of every workload in
both modes, plus the contract checks that need no JVM.

    python3 perfbench/test_bench.py            # from the repository root

The smoke runs use the sf0.001 tables, so they take a few minutes in all.
The plan-fact counting has its own unit test in the harness:
`cd perfbench/harness && sbt test`.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


class Smoke(unittest.TestCase):
    def check_run(self, workload, trace):
        p = bench("--workload", workload, "--seed", "7", "--seconds", "1",
                  "--trace", str(trace), "--scale", "0.001")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], p.stdout + p.stderr[-3000:])
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = out["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        if not trace:
            for m in wanted:
                self.assertGreater(out["metrics"][m["name"]]["value"], 0, m["name"])

    def test_tail(self):
        self.check_run("tail", 0)
        self.check_run("tail", 1)

    def test_gridsearch(self):
        self.check_run("gridsearch", 0)
        self.check_run("gridsearch", 1)


class Contract(unittest.TestCase):
    def test_seed_orders_a_fixed_item_set(self):
        self.assertEqual(run.tail_order(3), run.tail_order(3))
        self.assertNotEqual(run.tail_order(3), run.tail_order(4))
        self.assertEqual(sorted(run.tail_order(3)), sorted(run.TAIL_QUERIES))

    def test_fails_without_engine_sources(self):
        bare = os.path.join(run.BUILD, "tmp", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        # only what git would commit: no build outputs
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=lambda d, names: [
            n for n in names if n in ("target", "__pycache__")
            or (n == "project" and os.path.basename(d) == "project")])
        p = bench("--workload", "tail", "--seed", "1", "--seconds", "1", "--trace", "0",
                  cwd=bare)
        shutil.rmtree(bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertFalse(p.stdout.strip().startswith("{"))


if __name__ == "__main__":
    unittest.main()
