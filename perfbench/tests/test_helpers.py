"""Tests of the benchmark's own helpers: the percentile tail, call-site
attribution and the driver-gap computation.

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond_the_percentile(self):
        xs = list(range(1, 101))  # 100 samples: p90 has exactly 10 beyond it
        self.assertEqual(stats.tail(xs), (90.0, 90))

    def test_picks_the_highest_qualifying_percentile(self):
        xs = list(range(1, 1001))  # p99 has 10 beyond; p99.5 only 5
        self.assertEqual(stats.tail(xs), (99.0, 990))

    def test_small_samples_fall_back_to_the_median_then_none(self):
        self.assertEqual(stats.tail(list(range(20))), (50.0, 9))
        self.assertIsNone(stats.tail(list(range(19))))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class AttributionTest(unittest.TestCase):
    # innermost frame first, as Spark records a call site
    SILVER = ["graft.store.IncrementalStore$.write",
              "graft.store.IncrementalStore$.upsertByKey",
              "graft.forex.ForexIncremental$.runSilver",
              "graft.PipelineRunner$.runOnce"]

    def test_outermost_caller_and_innermost_callee(self):
        caller, callee = trace.attribute(self.SILVER)
        self.assertEqual(caller, ("forex", "graft.forex.ForexIncremental$.runSilver"))
        self.assertEqual(callee, ("store", "graft.store.IncrementalStore$.write"))
        self.assertEqual(trace.frame_method(caller[1]), "runSilver")

    def test_quality_checks_called_by_the_runner(self):
        caller, callee = trace.attribute(["graft.quality.Checks$.report",
                                          "graft.quality.Checks$.enforce",
                                          "graft.PipelineRunner$.runOnce"])
        self.assertEqual(caller[0], "quality")
        self.assertIsNone(callee)

    def test_query_module_with_scratch_callee(self):
        caller, callee = trace.attribute([
            "graft.Scratch$.write", "graft.Scratch$.table",
            "graft.queries.RelationalQueries$.$anonfun$labelProp$2",
            "graft.queries.RelationalQueries$.labelProp",
            "graft.SparkEntry$.$anonfun$queries$1"])
        self.assertEqual(caller, ("queries", "graft.queries.RelationalQueries$.labelProp"))
        self.assertEqual(callee[0], "scratch")

    def test_lambda_frames_map_to_their_method(self):
        self.assertEqual(
            trace.frame_method("graft.forex.ForexIncremental$.$anonfun$runGold$1"), "runGold")

    def test_no_graft_frames(self):
        self.assertEqual(trace.attribute([]), (None, None))


class DriverGapTest(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(trace.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]), 4)
        self.assertEqual(trace.union_length([]), 0)

    def test_nested_and_touching_intervals(self):
        self.assertEqual(trace.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_gap_is_wall_minus_covered(self):
        self.assertEqual(trace.driver_gap((0, 10), [(1, 3), (2, 4), (6, 7)]), 6)

    def test_jobs_outside_the_operation_are_clipped(self):
        self.assertEqual(trace.driver_gap((10, 20), [(5, 12), (18, 25), (30, 40)]), 6)

    def test_operation_without_jobs_is_all_gap(self):
        self.assertEqual(trace.driver_gap((3, 8), []), 5)


class DeclaredMetricsTest(unittest.TestCase):
    """A run prints exactly the metrics BENCHMARK.json declares."""
    EVENTS = [
        {"ev": "op", "name": "label_prop", "kind": "fixpoint", "module": "RelationalQueries",
         "t0": 1000.0, "t1": 3000.0, "ok": True, "compiles": 0, "gc_ms": 5},
        {"ev": "op", "name": "stream_dedup", "kind": "stream", "module": "PipelineQueries",
         "t0": 3000.0, "t1": 4000.0, "ok": True, "compiles": 1, "gc_ms": 0},
        {"ev": "pass", "pass": 0, "t0": 1000.0, "t1": 4000.0},
        {"ev": "rss", "peak_kb": 1024000},
    ]

    def declared(self, section):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            return [m["name"] for m in json.load(fh)[section]]

    def test_untraced_run_reports_the_end_to_end_metrics(self):
        r = metrics.compute(self.EVENTS, 0.5, [], trace=False, cores=2, ticks_per_day=1440)
        self.assertEqual(list(r["metrics"]), self.declared("end_to_end"))
        self.assertEqual(r["metrics"]["setup_s"]["value"], 0.5)
        self.assertEqual(r["metrics"]["pass_s"]["value"], 3.0)
        self.assertEqual(r["metrics"]["op_p50_s"]["value"], 1.5)

    def test_traced_run_reports_the_per_layer_metrics(self):
        r = metrics.compute(self.EVENTS, 0.5, [], trace=True, cores=2, ticks_per_day=1440)
        self.assertEqual(list(r["metrics"]), self.declared("per_layer"))
        self.assertEqual(r["metrics"]["queries.RelationalQueries_s"]["value"], 2.0)
        self.assertEqual(r["metrics"]["spark.driver_gap_s"]["value"], 3.0)

    def test_a_failed_output_check_fails_the_query_operations(self):
        r = metrics.compute(self.EVENTS, 0.5, ["stream_dedup: ROWCOUNT MISMATCH"],
                            trace=False, cores=2, ticks_per_day=1440)
        self.assertEqual((r["attempted"], r["failed"]), (2, 1))


class PipelineMetricsTest(unittest.TestCase):
    EVENTS = [
        {"ev": "op", "name": "backfill:2024-04-20", "kind": "backfill", "module": "PipelineRunner",
         "t0": 1000.0, "t1": 9000.0, "ok": True, "compiles": 0, "gc_ms": 0},
        {"ev": "op", "name": "daily:2024-04-30", "kind": "daily", "module": "PipelineRunner",
         "t0": 9000.0, "t1": 19000.0, "ok": True, "compiles": 0, "gc_ms": 0},
        {"ev": "pass", "pass": 0, "t0": 1000.0, "t1": 19000.0},
        {"ev": "rss", "peak_kb": 1024000},
        {"ev": "gold_check", "stored_rows": 9, "expected_rows": 10,
         "missing_rows": 3, "extra_rows": 2},
    ]

    def test_op_p50_is_the_daily_run_not_half_a_pass(self):
        r = metrics.compute(self.EVENTS, 0.5, [], trace=False, cores=2, ticks_per_day=1440)
        self.assertEqual(r["metrics"]["pass_s"]["value"], 18.0)
        self.assertEqual(r["metrics"]["op_p50_s"]["value"], 10.0)

    def test_gold_mismatch_counts_missing_and_excess_rows(self):
        r = metrics.compute(self.EVENTS, 0.5, [], trace=True, cores=2, ticks_per_day=1440)
        self.assertEqual(r["metrics"]["pipeline.gold_mismatch_rows"]["value"], 5)
        self.assertEqual(r["metrics"]["pipeline.backfill_s"]["value"], 8.0)


if __name__ == "__main__":
    unittest.main()
