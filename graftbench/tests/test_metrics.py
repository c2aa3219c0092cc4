"""Arithmetic of the benchmark's metrics on synthetic records.

Run from the repository root: python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


def span(id_, parent, start, end, layer="session", name="s", op=1):
    return {"id": id_, "parent": parent, "op": op, "name": name, "layer": layer,
            "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_union_of_overlapping_and_disjoint_intervals(self):
        self.assertEqual(metrics.union_length([(10, 40), (30, 60), (90, 100)]), 60)
        self.assertEqual(metrics.union_length([(5, 5), (7, 3)]), 0)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_self_time_subtracts_the_union_of_children_clipped_to_the_parent(self):
        tree = [
            span(0, -1, 0, 100),        # root
            span(1, 0, 10, 40),         # overlaps its sibling 2
            span(2, 0, 30, 60),
            span(3, 1, 15, 20),         # grandchild: counts against 1, not 0
            span(4, 0, 90, 120),        # runs past the root's end
        ]
        self.assertEqual(metrics.self_times(tree), {0: 40, 1: 25, 2: 30, 3: 5, 4: 30})

    def test_self_times_of_a_leaf_and_of_a_fully_covered_span(self):
        self.assertEqual(metrics.self_times([span(0, -1, 0, 10)]), {0: 10})
        full = [span(0, -1, 0, 10), span(1, 0, 0, 10)]
        self.assertEqual(metrics.self_times(full), {0: 0, 1: 10})

    def test_layer_self_time_per_op_in_a_traced_record(self):
        ms = 1_000_000
        spans = [[0, -1, 1, "q", "session", 0, 100 * ms],
                 [1, 0, 1, "execute", "ops", 20 * ms, 90 * ms],
                 [2, -1, 2, "q", "session", 200 * ms, 300 * ms],
                 [3, 2, 2, "execute", "executor", 210 * ms, 290 * ms]]
        op = {"name": "q", "ms": 100.0, "ok": True, "items": 1, "pass": 1, "extra": {}}
        window = {"wall_s": 1.0, "cores": 4, "ops": [op, dict(op)]}
        rec = {"traced": window, "untraced": window, "untraced_after": window,
               "spans": spans, "job_stats": [], "task_totals": {}, "functions": {}}
        m = metrics.layer_metrics(rec)
        # per op that uses the layer: session in both ops, ops and
        # executor in one each
        self.assertAlmostEqual(m["session.self_ms"], (30 + 20) / 2)
        self.assertAlmostEqual(m["ops.self_ms"], 70)
        self.assertAlmostEqual(m["executor.self_ms"], 80)
        self.assertEqual(m["streaming.self_ms"], 0.0)
        self.assertEqual(m["trace.spans"], 4)
        self.assertEqual(m["trace.overhead_op_p50_pct"], 0.0)


class WindowTest(unittest.TestCase):
    def test_percentile_interpolates(self):
        self.assertEqual(metrics.percentile([1, 2, 3, 4, 5], 50), 3)
        self.assertAlmostEqual(metrics.percentile(range(1, 11), 90), 9.1)
        self.assertEqual(metrics.percentile([], 90), 0.0)

    def test_stream_throughput_uses_drains_and_latency_uses_batches(self):
        ops = [{"name": "drain", "ms": 2000.0, "ok": True, "items": 100, "pass": 1},
               {"name": "batch", "ms": 100.0, "ok": True, "items": 60, "pass": 1},
               {"name": "batch", "ms": 300.0, "ok": True, "items": 40, "pass": 1}]
        w = metrics._window_metrics({"ops": ops})
        self.assertEqual(w["throughput_per_s"], 50.0)
        self.assertEqual(w["op_p50_ms"], 200.0)
        self.assertEqual(w["samples"], 2)

    def test_each_query_kind_counts_once_by_its_median(self):
        def q(name, ms):
            return {"name": name, "ms": ms, "ok": True, "items": 1, "pass": 1}
        # pooled, the p50 of these eight samples would read 250, the gap
        # between gate b's slowest run and gate c's fastest
        ops = ([q("a", ms) for ms in (100, 110, 900)] + [q("b", ms) for ms in (200, 210)]
               + [q("c", ms) for ms in (290, 300, 310)])
        self.assertEqual(sorted(metrics.latencies(ops)), [110, 205, 300])
        w = metrics._window_metrics({"ops": ops})
        self.assertEqual(w["op_p50_ms"], 205)
        self.assertEqual(w["samples"], 8)

    def test_failed_ops_count_time_but_not_items(self):
        ops = [{"name": "q", "ms": 500.0, "ok": True, "items": 1, "pass": 1},
               {"name": "q", "ms": 500.0, "ok": False, "items": 1, "pass": 1}]
        self.assertEqual(metrics._window_metrics({"ops": ops})["throughput_per_s"], 1.0)


class OracleTest(unittest.TestCase):
    def test_verdicts_from_compare_output(self):
        out = ("PASS  auc_score: rows=1\nFAIL  ks_drift: hash mismatch (10 rows)\n"
               "WEAK  other: rows=3 (no oracle)\n\n2 pass, 1 fail\n")
        self.assertEqual(metrics.oracle_verdicts(out, ["auc_score", "ks_drift", "missing"]),
                         {"auc_score": True, "ks_drift": False, "missing": False})


if __name__ == "__main__":
    unittest.main()
