"""Tests of the benchmark itself; run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The generator tests take seconds. The smoke tests build the program and
run every workload of BENCHMARK.json at tiny scale in both modes, so a
broken workload fails here before a long run (several minutes).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
from run import same_tree  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
# store_cdc is not in BENCHMARK.json (too slow for its time budget)
# but stays runnable, so it is smoke-tested too
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["store_cdc"]


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in WORKLOADS:
            os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
            with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d, \
                    self.subTest(workload=w):
                a, b, c = (os.path.join(d, x) for x in "abc")
                gen.generate(w, 7, a, "tiny", 10)
                gen.generate(w, 7, b, "tiny", 10)
                gen.generate(w, 8, c, "tiny", 10)
                self.assertTrue(same_tree(a, b))
                self.assertFalse(same_tree(a, c))


class SmokeTest(unittest.TestCase):
    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "3", "--seconds", "2", "--trace", str(trace),
             "--size", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_every_workload_tiny(self):
        for w in WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    r = self.run_bench(w, trace)
                    self.assertEqual(set(r), {"correct", "attempted", "failed",
                                              "metrics"})
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertEqual(set(r["metrics"]),
                                     {m["name"] for m in SPEC[key]})
                    if trace == 0:
                        for m in r["metrics"].values():
                            self.assertGreater(m["value"], 0)


if __name__ == "__main__":
    unittest.main()
