"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import run  # noqa: E402
from benchlib import metrics, stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        self.assertAlmostEqual(stats.percentile(xs, 0.5), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 0.9), 9.1)
        self.assertEqual(stats.percentile([7], 0.9), 7)
        self.assertEqual(stats.percentile(reversed(xs), 0.0), 1)

    def test_geometric_mean(self):
        self.assertAlmostEqual(stats.gmean([1, 100]), 10)
        self.assertAlmostEqual(stats.gmean([5, 5, 5]), 5)

    def test_ten_beyond_rule(self):
        # p90 of 100 samples has exactly 10 above it; of 91 only 9
        self.assertTrue(stats.supported(list(range(100)), 0.9))
        self.assertFalse(stats.supported(list(range(91)), 0.9))
        # ties at the top do not count as beyond
        self.assertFalse(stats.supported([1] * 50 + [2] * 50, 0.9))

    def test_highest_supported_states_level_and_count(self):
        q, v, n = stats.highest_supported(list(range(100)))
        self.assertEqual((q, n), (0.9, 100))
        self.assertAlmostEqual(v, 89.1)
        q, _, n = stats.highest_supported(list(range(40)))
        self.assertEqual((q, n), (0.75, 40))
        self.assertIsNone(stats.highest_supported(list(range(15))))

    def test_describe_states_sample_count(self):
        self.assertEqual(stats.describe(list(range(100)), 0.9),
                         "p90=89.1 over 100 samples, 10 beyond")
        self.assertTrue(stats.describe(list(range(20)), 0.9).endswith(
            "over 20 samples, 2 beyond (fewer than 10)"))


class SpanTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(5, 5), (1, 2)]), 1)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_with_overlapping_children(self):
        spans = [
            {"id": 1, "parent": None, "t0": 0, "t1": 100},
            {"id": 2, "parent": 1, "t0": 10, "t1": 40},
            {"id": 3, "parent": 1, "t0": 30, "t1": 60},   # overlaps span 2
            {"id": 4, "parent": 1, "t0": 90, "t1": 120},  # runs past its parent
            {"id": 5, "parent": 2, "t0": 15, "t1": 20},   # grandchild
        ]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs[1], 100 - (50 + 10))
        self.assertEqual(selfs[2], 30 - 5)
        self.assertEqual(selfs[3], 30)
        self.assertEqual(selfs[5], 5)

    def test_job_gap_is_wall_minus_job_union(self):
        # operation 0..100, jobs 10..30, 20..50 and 95..130: 55 ms without a job
        iv = stats.clipped([(10, 30), (20, 50), (95, 130)], 0, 100)
        self.assertEqual(100 - stats.union_length(iv), 55)


class PanelTest(unittest.TestCase):
    REGISTRY = set(run.PANEL) | {run.WARMUP_QUERY, "q_other"}

    def test_same_seed_same_order_of_the_fixed_panel(self):
        a = run.panel_order(7, self.REGISTRY)
        self.assertEqual(a, run.panel_order(7, self.REGISTRY))
        c = run.panel_order(8, self.REGISTRY)
        self.assertNotEqual(a, c)  # another seed, another order
        self.assertEqual(sorted(a), sorted(c))  # of the same queries
        self.assertEqual(sorted(a), sorted(run.PANEL))

    def test_a_missing_panel_query_stops_the_run(self):
        with self.assertRaises(SystemExit):
            run.panel_order(1, self.REGISTRY - {run.PANEL[0]})


class TallyTest(unittest.TestCase):
    def test_thrown_and_wrong_count_alike(self):
        ops = [
            {"name": "q_ok", "ok": True, "cache_left": 0},
            {"name": "q_throws", "ok": False, "cache_left": 0},
            {"name": "q_wrong", "ok": True, "cache_left": 0},
            {"name": "q_wrong", "ok": True, "cache_left": 0},
            {"name": "q_leaks", "ok": True, "cache_left": 2},
        ]
        self.assertEqual(stats.tally(ops, {"q_wrong": "values differ"}), (5, 4))
        self.assertEqual(stats.tally(ops[:1]), (1, 0))


class RecordsTest(unittest.TestCase):
    def test_async_records_belong_to_their_operation(self):
        import json
        import tempfile
        lines = [
            {"k": "meta", "cores": 4, "traced": True},
            {"k": "job", "job": 0, "op": None, "span": None, "t0": 1, "stages": 1},
            {"k": "op_start", "op": 1},
            {"k": "qe", "t0": 5, "analysis_ms": 1, "optimization_ms": 2, "planning_ms": 3},
            {"k": "op", "op": 1, "phase": "warm", "name": "q", "pass": 1, "t0": 0, "t1": 10,
             "cpu_ns": 1, "ok": True, "err": None, "cache_left": 0, "codegen_n": 0,
             "codegen_ms": 0},
            {"k": "qe", "t0": 50, "analysis_ms": 9, "optimization_ms": 9, "planning_ms": 9},
        ]
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as f:
            f.write("\n".join(json.dumps(x) for x in lines))
        try:
            recs = metrics.load(f.name)
        finally:
            os.unlink(f.name)
        qes = [r for r in recs if r["k"] == "qe"]
        self.assertEqual([q["in_op"] for q in qes], [1, None])
        self.assertIsNone(next(r for r in recs if r["k"] == "job")["in_op"])


class TraceOnlyWorkTest(unittest.TestCase):
    """The traced run's own noop writes stay out of the program's figures."""

    def run_with_materialize(self, codegen_ms=5):
        def op(i, t0, t1, cg_ms):
            return {"k": "op", "op": i, "phase": "warm", "name": "pipeline", "pass": i,
                    "t0": t0, "t1": t1, "cpu_ns": 1, "jit_ms": 0, "ok": True, "err": None,
                    "cache_left": 0, "codegen_n": 3, "codegen_ms": cg_ms}
        recs = [
            {"k": "meta", "cores": 2, "traced": True},
            {"k": "setup_done", "uptime_ms": 1},
            {"k": "end", "peak_rss_kb": 1, "codegen_total": 3},
            op(1, 0, 100, codegen_ms),
            {"k": "span", "op": 1, "id": 1, "parent": None, "name": "op", "t0": 0, "t1": 100},
            {"k": "span", "op": 1, "id": 2, "parent": 1, "name": "clean.call", "t0": 0,
             "t1": 40, "codegen_n": 1, "codegen_ms": 2},
            {"k": "span", "op": 1, "id": 3, "parent": 1, "name": "clean.materialize",
             "t0": 40, "t1": 100, "codegen_n": 2, "codegen_ms": codegen_ms and 4},
        ]
        for span, (t0, t1), rows in ((2, (10, 30), 5), (3, (50, 90), 7)):
            recs += [
                {"k": "job", "job": span, "op": 1, "span": span, "t0": t0, "stages": 1},
                {"k": "job_end", "job": span, "t1": t1},
                {"k": "stage", "stage": span, "attempt": 0, "op": 1, "span": span},
                {"k": "task", "stage": span, "dur_ms": t1 - t0, "run_ms": t1 - t0,
                 "cpu_ns": 0, "gc_ms": 0, "in_rec": rows, "in_bytes": rows, "out_rec": 0,
                 "out_bytes": 0, "sh_r": 0, "sh_w": 0, "spill": 0, "peak_mem": 0},
                {"k": "qe", "in_op": 1, "t0": t0, "analysis_ms": 1, "optimization_ms": 1,
                 "planning_ms": 1},
            ]
        return metrics.Run(recs)

    def test_materialize_work_counts_only_in_its_own_metric(self):
        m = metrics.per_layer(self.run_with_materialize(), 0)
        self.assertEqual(m["clean.materialize_ms"], 60)
        self.assertEqual(m["sources.records_read"], 5)
        self.assertEqual((m["driver.jobs"], m["driver.tasks"]), (1, 1))
        self.assertEqual(m["driver.planning_ms"], 1)
        # 40 ms of program time, 20 of them inside a job
        self.assertEqual(m["driver.job_gap_ms"], 20)
        self.assertEqual(m["executor.busy_ratio"], 20 / (40 * 2))
        self.assertEqual((m["driver.codegen_compiles"], m["driver.codegen_ms"]), (1, 1))

    def test_unknown_compile_time_is_left_out_not_zeroed(self):
        r = self.run_with_materialize(codegen_ms=None)
        self.assertEqual(metrics.codegen(r.warm(), metrics.added_by_trace(r)), (1, 0, 1))


if __name__ == "__main__":
    unittest.main()
