#!/usr/bin/env python3
"""Determinism test of the benchmark's generator.

Runs the traced benchmark twice with the same seed and once with another
seed, and checks, pass by pass over the passes both runs made:

- the same seed gives identical inputs (a digest of the generated corpus,
  taken after every pass), identical RunStats/NightlyStats and identical
  Spark job counts;
- another seed gives other inputs.

    python3 syncbench/test_determinism.py [workload ...]

Each run takes about a minute; without arguments every gated workload is
tested.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED, OTHER_SEED = 5, 6


def gated_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [w["name"] for w in json.load(fh)["workloads"]]


def traced_passes(workload, seed):
    """Run the traced benchmark; return its per-pass log."""
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                   check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(ROOT, ".bench_out", f"{workload}-s{seed}-t1.json.passes.jsonl")
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def comparable(p):
    return {k: p[k] for k in ("kind", "tick", "digest", "stats", "spark.jobs")}


class Determinism(unittest.TestCase):
    workloads = []

    def test_same_seed_same_inputs_stats_and_jobs(self):
        for w in self.workloads:
            with self.subTest(workload=w):
                a = traced_passes(w, SEED)
                b = traced_passes(w, SEED)
                n = min(len(a), len(b))
                self.assertGreaterEqual(n, 3, f"{w}: too few passes to compare")
                for i in range(n):
                    self.assertEqual(comparable(a[i]), comparable(b[i]),
                                     f"{w}: pass {i} differs between two runs of seed {SEED}")
                self.assertTrue(all(p["ok"] for p in a + b), f"{w}: a pass failed its check")
                c = traced_passes(w, OTHER_SEED)
                self.assertNotEqual(a[0]["digest"], c[0]["digest"],
                                    f"{w}: seeds {SEED} and {OTHER_SEED} gave the same inputs")


if __name__ == "__main__":
    Determinism.workloads = sys.argv[1:] or gated_workloads()
    unittest.main(argv=sys.argv[:1], verbosity=2)
