#!/usr/bin/env python3
"""Self-check of the benchmark's counters and output checks.

Usage (from the root of a checkout): python3 perfbench/test_counters.py

- Two traced runs of one known query report the same job, stage, task,
  plan-node and shuffle counts, a non-zero planning time, and a non-zero
  `scan.mb` (scan bytes come from the scan nodes' SQL metrics, not from
  task input metrics).
- The four queries without a DuckDB oracle match their pinned row counts.
- `run.py` reports every metric `BENCHMARK.json` names, with its unit.

Takes about three minutes; it builds first if the tree changed.
"""
import json
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

ROOT = Path.cwd()
CFG = json.loads((HERE / "config.json").read_text())
EXACT = ["exec.jobs", "exec.stages", "exec.tasks", "entry.build_jobs",
         "catalyst.plan_nodes", "shuffle.records", "shuffle.write_mb", "shuffle.read_mb"]


def harness(queries, seed, trace):
    return run.run_harness(ROOT, "selfcheck", queries, [], seed, 0, trace)


class Counters(unittest.TestCase):
    def test_traced_counts_repeat(self):
        a = harness(["q1_decimal"], 1, True)[1]["layers"]
        b = harness(["q1_decimal"], 2, True)[1]["layers"]
        for k in EXACT:
            self.assertEqual(a[k], b[k], k)
        self.assertGreater(a["exec.jobs"], 0)
        self.assertGreater(a["catalyst.plan_nodes"], 0)
        self.assertGreater(a["catalyst.plan_s"], 0)
        self.assertGreater(a["shuffle.records"], 0)
        self.assertGreater(a["scan.mb"], 0)
        self.assertGreater(a["scan.rows"], 0)

    def test_pinned_row_counts(self):
        pinned = sorted(CFG["row_counts"])
        run_dir, res = harness(pinned, 1, False)
        self.assertEqual(res["failures"], [])
        verdict = run.check_outputs(ROOT, run.bench_input(ROOT), CFG, pinned, res, run_dir)
        self.assertEqual({q: None for q in pinned}, verdict)

    def test_metric_names_match_benchmark_json(self):
        bench = ROOT / "BENCHMARK.json"
        if not bench.exists():
            self.skipTest("no BENCHMARK.json at the checkout root")
        spec = json.loads(bench.read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(CFG["workloads"]))


if __name__ == "__main__":
    unittest.main(verbosity=2)
