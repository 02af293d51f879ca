"""Smoke test of the benchmark at tiny scale (sf0.001, a few cycles, a few
lookups): every run is correct and prints every metric BENCHMARK.json
names. Run from the repository root:

    python3 perfbench/tests/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, trace, seed=7):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited "
                             f"{r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1]), r.stdout


class Smoke(unittest.TestCase):
    def check(self, res, out, kind):
        self.assertTrue(res["correct"], out)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        names = [m["name"] for m in SPEC[kind]]
        self.assertEqual(sorted(res["metrics"]), sorted(names))
        for n, v in res["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), n)

    def test_each_workload_untraced(self):
        for w in SPEC["workloads"]:
            res, out = run(w["name"], 0)
            self.check(res, out, "end_to_end")
            for n, v in res["metrics"].items():
                self.assertGreater(v["value"], 0, f"{w['name']} {n}")

    def test_traced_sweep(self):
        res, out = run("batch_board", 1)
        self.check(res, out, "per_layer")
        # every hop ran, and the board repeated its job counts (a mismatch
        # would have failed the run above)
        for m in res["metrics"]:
            if m.endswith(".batches") or m.endswith(".jobs"):
                self.assertGreater(res["metrics"][m]["value"], 0, m)


if __name__ == "__main__":
    unittest.main()
