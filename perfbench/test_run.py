#!/usr/bin/env python3
"""Self-tests of the benchmark's own helpers.

    python3 -m unittest perfbench/test_run.py
"""
import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_from_any_sample(self):
        self.assertEqual(run.percentile([3.0], 0.5), 3.0)
        self.assertEqual(run.percentile([1.0, 2.0, 4.0, 5.0], 0.5), 3.0)
        self.assertIsNone(run.percentile([], 0.5))

    def test_tail_needs_ten_samples_beyond(self):
        # p90 of n samples sits at rank ceil(0.9 n): 100 samples leave ten
        # beyond it, 99 leave nine
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(run.percentile(xs, 0.9), 90.0)
        self.assertIsNone(run.percentile(xs[:99], 0.9))
        self.assertIsNone(run.percentile(xs[:20], 0.9))

    def test_order_does_not_matter(self):
        xs = [float(i) for i in range(200)]
        self.assertEqual(run.percentile(xs, 0.9), run.percentile(xs[::-1], 0.9))

    @staticmethod
    def record(ops):
        return {"ops": ops, "fatal": "", "session_s": 1.0, "preflight_s": 0.5,
                "storage_held_mb": 1.0, "heap_after_gc_mb": 100.0,
                "heap_max_mb": 3072.0, "layers": {}, "cold_layers": {},
                "self_s": {}, "traced_ops": 0}

    @staticmethod
    def op(kind, s, ok=True):
        return {"kind": kind, "s": s, "ok": ok, "traced": False, "name": "q",
                "family": "etl", "error": "" if ok else "boom"}

    def test_summary_reports_counts_beside_percentiles(self):
        ops = [self.op("cold", 1.0)] + [self.op("warm", 0.01 * i)
                                         for i in range(1, 51)]
        ops[-1]["name"] = "q2"
        _, _, _, e2e, _, named, samples, _ = \
            run.summarize("registry_mix", self.record(ops))
        self.assertEqual(samples["query_warm_p50_s"], 50)
        # warm_s: one pass over the panel at each query's best run
        self.assertEqual(samples["warm_s"], 50)
        self.assertAlmostEqual(e2e["warm_s"], 0.01 + 0.5)
        self.assertEqual(e2e["cold_s"], 1.0)
        self.assertEqual(e2e["setup_s"], 1.5)
        self.assertNotIn("query_warm_p90_s", named)  # 50 samples: 5 beyond

    def test_failed_op_publishes_no_time(self):
        ops = [self.op("first_day", 20.0), self.op("day", 9.0),
               self.op("day", 0.0, ok=False)]
        clean, attempted, failed, e2e, _, named, _, _ = \
            run.summarize("daily_increment", self.record(ops))
        self.assertFalse(clean)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertIsNone(e2e["warm_s"])
        self.assertIsNone(e2e["cold_s"])
        self.assertNotIn("day_p50_s", named)
        self.assertAlmostEqual(named["failed_ops_frac"], 1 / 3)


class MetricNameTest(unittest.TestCase):
    def test_pattern(self):
        for good in ("warm_s", "exec.busy_frac", "ops.tpch.cold_s", "a-1"):
            self.assertTrue(run.valid_name(good), good)
        for bad in ("", "exec busy", "ops/tpch", "a" * 65, "x\n"):
            self.assertFalse(run.valid_name(bad), bad)

    def test_declared_and_emitted_names(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        declared = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        declared += [w["name"] for w in spec["workloads"]]
        for name in declared:
            self.assertTrue(run.valid_name(name), name)
        self.assertEqual(len(declared), len(set(declared)))
        layers = {m["name"] for m in spec["per_layer"]}
        for fam in run.FAMILIES:
            for kind in ("cold", "warm"):
                self.assertIn(f"ops.{fam}.{kind}_s", layers)


class SelectionTest(unittest.TestCase):
    expected = {f"registry.q_{f}_{i}": f"{f}:1:2"
                for f in run.FAMILIES + ("misc",) for i in range(20)}

    def test_panel_is_stratified_and_fixed(self):
        panel = run.registry_panel(self.expected)
        self.assertEqual(panel, run.registry_panel(self.expected))
        for fam in run.FAMILIES:
            self.assertEqual(sum(q.startswith(f"q_{fam}_") for q in panel), 1)
        self.assertFalse(any(q.startswith("q_misc_") for q in panel))

    def test_same_seed_same_order(self):
        panel = [f"q{i}" for i in range(10)]
        a = run.cold_order(panel, 7)
        self.assertEqual(a, run.cold_order(panel, 7))
        self.assertNotEqual(a, run.cold_order(panel, 8))
        self.assertEqual(sorted(a), panel)
        self.assertEqual(run.warm_order(10, 7), run.warm_order(10, 7))
        self.assertNotEqual(run.warm_order(10, 7), run.warm_order(10, 8))

    def test_same_seed_same_weeks(self):
        self.assertEqual(run.increment_weeks(5), run.increment_weeks(5))
        self.assertNotEqual(run.increment_weeks(5), run.increment_weeks(6))
        weeks = run.increment_weeks(5)
        self.assertEqual(len(set(weeks)), len(weeks))
        for lo, hi in weeks:
            self.assertEqual(lo[:7], hi[:7])  # one month partition per day

    def test_plan_depends_only_on_seed(self):
        for w in run.WORKLOADS:
            self.assertEqual(run.plan_for(w, 11, self.expected),
                             run.plan_for(w, 11, self.expected))


if __name__ == "__main__":
    unittest.main()
