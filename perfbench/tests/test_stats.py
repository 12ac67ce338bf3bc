"""Checks of the benchmark's own arithmetic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests -p 'test_stats.py'
"""

import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import report  # noqa: E402
import stats  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class PercentileRule(unittest.TestCase):
    def test_p50_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(19)), 0.5))
        self.assertEqual(stats.percentile(list(range(1, 21)), 0.5), 10)

    def test_p90_needs_one_hundred_samples(self):
        self.assertIsNone(stats.percentile(list(range(99)), 0.9))
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)

    def test_nearest_rank_ignores_input_order(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 10
        self.assertEqual(stats.percentile(xs, 0.5), 3.0)

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 0.5))


class MediansAndSpread(unittest.TestCase):
    def test_median_even_and_odd(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertIsNone(stats.median([]))

    def test_spread_is_quartile_distance_over_median(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 14.5)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertIsNone(stats.geomean([]))


class SelfTime(unittest.TestCase):
    def test_parent_minus_children(self):
        spans = [(1, 0, "op", "a-1", 0, 100), (2, 1, "x", "a-1", 10, 30), (3, 1, "y", "a-1", 50, 60)]
        own = {name: s for name, _, _, s in stats.self_times(spans)}
        self.assertEqual(own, {"op": 70, "x": 20, "y": 10})

    def test_overlapping_children_are_counted_once(self):
        spans = [(1, 0, "op", "a-1", 0, 100), (2, 0, "x", "a-1", 10, 40), (3, 0, "y", "a-1", 20, 50)]
        own = {name: s for name, _, _, s in stats.self_times(spans)}
        self.assertEqual(own["op"], 60)

    def test_nesting_is_per_op_and_by_interval(self):
        # the child ran on another thread (parent id 0) but inside the op's root span
        spans = [(1, 0, "batch", "batch-1", 0, 100), (2, 0, "cdc", "batch-1", 5, 95),
                 (3, 2, "append", "batch-1", 10, 20), (4, 0, "read", "ann-2", 30, 40)]
        own = {(name, op): s for name, op, _, s in stats.self_times(spans)}
        self.assertEqual(own[("batch", "batch-1")], 10)
        self.assertEqual(own[("cdc", "batch-1")], 80)
        self.assertEqual(own[("read", "ann-2")], 10)

    def test_op_class(self):
        self.assertEqual(stats.op_class("filtered-12"), "filtered")
        self.assertEqual(stats.op_class("batch-3"), "batch")
        self.assertEqual(stats.op_class("event_sessions_window#2"), "event_sessions_window")


class Attribution(unittest.TestCase):
    def test_group_totals_sum_only_kept_groups(self):
        groups = {"exact-1": {"jobs": 1, "tasks": 4}, "exact-2": {"jobs": 2, "tasks": 1},
                  "": {"jobs": 7}, "bm25-3": {"jobs": 9}}
        total, n = stats.group_totals(groups, lambda g: g.startswith("exact"))
        self.assertEqual((total, n), ({"jobs": 3, "tasks": 5}, 2))

    def test_a_part_of_an_op_counts_for_the_op(self):
        groups = {"lsh-1": {"jobs": 1}, "lsh-1/encode": {"jobs": 2, "plan_ms": 4}, "lsh-2": {"jobs": 5}}
        total, n = stats.group_totals(groups, lambda g: g == "lsh-1")
        self.assertEqual((total, n), ({"jobs": 3, "plan_ms": 4}, 1))

    def test_planning_is_carved_out_of_the_encoder(self):
        spans = [(1, 0, "op", "lsh-1", 0, 100_000_000),
                 (2, 1, "api.Wire.execute_encode", "lsh-1", 40_000_000, 90_000_000)]
        groups = {"lsh-1/encode": {"plan_ms": 15.0}}
        own = {name: s for name, _, _, s in stats.self_times(stats.carve_planning(spans, groups))}
        self.assertEqual(own["spark.planning"], 15_000_000)
        self.assertEqual(own["api.Wire.execute_encode"], 35_000_000)
        self.assertEqual(own["op"], 50_000_000)

    def test_carved_planning_never_outgrows_its_encoder(self):
        spans = [(1, 0, "api.Wire.execute_encode", "bm25-1", 0, 1_000_000)]
        carved = stats.carve_planning(spans, {"bm25-1/encode": {"plan_ms": 5.0}})
        self.assertEqual(carved[-1][4:], (0, 1_000_000))


JVM = {"gc_ms": 5.0, "jit_ms": 40.0, "classes_loaded": 3.0}


def _pinned():
    with open(report.FINGERPRINTS) as fh:
        return json.load(fh)


def _raw(workload, trace):
    """A minimal raw result, as the harness writes it."""
    lat = {c: [100.0 + i for i in range(30)] for c in report.SERVE_CLASSES}
    if trace:
        lat.update({"http:" + c: [110.0 + i for i in range(30)] for c in report.SERVE_CLASSES})
    values = {"timed_s": 20.0, "completed": 120, "clients": 1, "jvm_ops": 120, "recall_at_10": [1.0],
              "store_build_ms": [900.0], "store_files": 10, "lsh_ops": 4, "lsh_fallbacks": 1, "jvm": JVM,
              "store_bytes": 0, "vectors": 100, "documents": 100, "nbits": 4}
    if workload == "batch":
        fam = {"q1_agg": "tpch", "ann_rescored": "ann", "bm25_multi": "bm25"}
        lat = {q: [200.0, 220.0] for q in fam}
        lat.update({"cdc": [900.0], "seg_ann": [50.0], "seg_bm25": [70.0]})
        values = {"timed_s": 10.0, "families": fam, "batch_lag_ms": [900.0], "batch_events": [101],
                  "passes": 1, "warmup_ms": {"ann_rescored": 500.0}, "index_backed": ["ann_rescored"],
                  "store_files": 3, "compaction_ms": [], "segments": [2], "store_bytes": 1000,
                  "live_rows": 10, "jvm": JVM, "jvm_ops": 5, "fingerprints": _pinned(), "ops": 5, "nbits": 4,
                  "bootstrap_ms": 100.0}
    spans = [[1, 0, "op" if workload == "serve-read" else "batch", "exact-1", 0, 1000000],
             [2, 1, "operators.Engine.plan_build", "exact-1", 0, 500000]]
    return {"workload": workload, "seed": 1, "trace": trace, "cpus": 4, "heap_mb": 4096,
            "setup_s": [3.0], "attempted": 10, "failures": [], "latency_ms": lat,
            "values": values, "spans": spans if trace else [],
            "groups": {"exact-1": {"jobs": 2.0}} if trace else {}}


class ContractLine(unittest.TestCase):
    def setUp(self):
        with open(BENCHMARK) as fh:
            self.bench = json.load(fh)

    def test_every_workload_prints_every_metric(self):
        for wl in ("serve-read", "batch"):
            for trace, key in ((False, "end_to_end"), (True, "per_layer")):
                line, _ = report.summarize(_raw(wl, trace))
                want = {(x["name"], x["unit"]) for x in self.bench[key]}
                got = {(k, v["unit"]) for k, v in line["metrics"].items()}
                self.assertEqual(got, want, f"{wl} trace={trace}")
                self.assertTrue(line["correct"])
                self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])

    def test_workload_names_match(self):
        self.assertEqual({w["name"] for w in self.bench["workloads"]}, set(report.WORKLOADS))

    def test_failures_make_the_run_incorrect(self):
        raw = _raw("serve-read", False)
        raw["failures"] = ["exact answer: ids differ"]
        line, detail = report.summarize(raw)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        self.assertAlmostEqual(detail["metrics"]["failed_share"]["value"], 0.1)

    def test_pinned_fingerprints_are_checked(self):
        raw = _raw("batch", False)
        line, _ = report.summarize(raw)
        self.assertTrue(line["correct"])
        self.assertEqual(line["attempted"], raw["attempted"] + len(_pinned()))
        q = sorted(_pinned())[0]
        raw["values"]["fingerprints"][q] = "0:0000000000000000"
        line, detail = report.summarize(raw)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)
        self.assertIn(q, detail["metrics"]["failures"][0])

    def test_tiny_runs_skip_the_pinned_fingerprints(self):
        raw = _raw("batch", False)
        raw["values"]["fingerprints"] = {}
        line, _ = report.summarize(raw, tiny=True)
        self.assertTrue(line["correct"])

    def test_traced_serve_read_reports_its_http_requests_as_end_to_end(self):
        line, detail = report.summarize(_raw("serve-read", True))
        self.assertEqual(line["metrics"]["trace.op_ms"]["value"], 124.5)
        # Little's law: 1 client / mean HTTP latency of 124.5 ms
        self.assertAlmostEqual(line["metrics"]["trace.ops_per_s"]["value"], 1 / 0.1245)
        self.assertEqual(detail["metrics"]["in_process_op_ms"]["value"], 114.5)
        self.assertEqual(detail["metrics"]["layers"]["api.HttpShell.transport_ms.exact"]["value"], 10.0)


if __name__ == "__main__":
    unittest.main()
