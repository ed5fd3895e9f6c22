"""Smoke self-test of the benchmark.

Runs every workload of BENCHMARK.json once untraced and once traced with
the shortest window (one cold and one warm op: two pipeline iterations, two
door triggers) and checks that the result line follows the contract, that
every metric BENCHMARK.json names is emitted with its unit, that every named
check passed, and that the traced run wrote its spans.

Usage, from the repository root (about five minutes on 4 cores):
    python3 perfbench/test_smoke.py
"""
import json
import math
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SEED = 7


def run(workload, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        report, result = run(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], report["failed_checks"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in wanted})
        for m in wanted:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
            self.assertIn(m["name"], report["metrics"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        self.assertEqual(report["cores"], int(os.environ.get("SPARK_GRAFT_CPUS", 0))
                         or len(os.sched_getaffinity(0)))
        if trace:
            spans = os.path.join(ROOT, ".bench_build", "spans", f"{workload}-{SEED}.jsonl")
            with open(spans) as f:
                rows = [json.loads(ln) for ln in f]
            names = {r["name"] for r in rows}
            self.assertTrue({"cold", "warm"} <= names, names)
            for r in rows:
                self.assertEqual(set(r), {"id", "parent", "name", "start_ns", "end_ns", "run"})
                self.assertLessEqual(r["start_ns"], r["end_ns"])


for w in [w["name"] for w in SPEC["workloads"]]:
    for t in (0, 1):
        setattr(Smoke, f"test_{w}_trace{t}", lambda self, w=w, t=t: self.check(w, t))

if __name__ == "__main__":
    unittest.main(verbosity=2)
