"""Unit tests of the benchmark's Python helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import locale
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import stats  # noqa: E402


def span(id_, name, parent, start, end, run=1):
    return {"id": id_, "name": name, "parent": parent, "run": run,
            "start_ns": start, "end_ns": end}


class QuantileTest(unittest.TestCase):
    def test_median_odd_even_empty(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertEqual(stats.median([]), 0.0)

    def test_quartiles_match_statistics_quantiles(self):
        values = [1.0, 2.0, 4.0, 7.0, 11.0, 16.0, 22.0, 29.0, 37.0, 46.0]
        self.assertEqual(stats.quartiles(values), tuple(statistics.quantiles(values, n=4)))
        self.assertEqual(stats.quartiles([5.0]), (5.0, 5.0, 5.0))

    def test_relative_spread(self):
        # exclusive method: q1 = 1.75, median = 3.5, q3 = 5.25
        self.assertAlmostEqual(stats.relative_spread([1, 2, 3, 4, 5, 6]), 1.0)

    def test_spread_report_over_result_lines(self):
        lines = [json.dumps({"metrics": {"cpu_s": {"value": v, "unit": "s"}}})
                 for v in (1, 2, 3, 4, 5, 6)]
        self.assertIn("cpu_s", stats.spread_report(lines))
        self.assertIn("iqr/median=1.000", stats.spread_report(lines))


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(1, "pass", 0, 0, 100), span(2, "a", 1, 10, 30), span(3, "b", 1, 40, 90),
                 span(4, "b.inner", 3, 50, 60)]
        self.assertEqual(stats.self_times_ns(spans), {1: 30, 2: 20, 3: 40, 4: 10})

    def test_overlapping_children_count_once(self):
        spans = [span(1, "p", 0, 0, 100), span(2, "a", 1, 10, 50), span(3, "b", 1, 40, 60)]
        self.assertEqual(stats.self_times_ns(spans)[1], 50)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, "p", 0, 0, 100), span(2, "a", 1, 90, 120)]
        self.assertEqual(stats.self_times_ns(spans)[1], 90)


class ResultLineTest(unittest.TestCase):
    def capture(self, trace=False):
        ops = [{"wall_s": w, "cpu_s": 2 * w} for w in (1.0, 3.0, 2.0)]
        return {"trace": trace, "session_s": 1.5, "setup_reps_s": [3.0, 1.0, 2.0],
                "info": {"items_per_op": 100},
                "passes": [{"pass": i, "kind": "timed", "ok": True, "retained_mb": 1.0,
                            "ops": [o]} for i, o in enumerate(ops)] +
                          [{"pass": 9, "kind": "timed", "ok": False, "error": "boom"}]}

    def test_end_to_end_metrics(self):
        res, _ = stats.result(self.capture())
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(m, {"setup_s": 3.5, "latency_p50_s": 2.0, "items_per_s": 50.0,
                             "cpu_s": 4.0})
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (False, 4, 1))
        self.assertEqual(m["latency_p50_s"], 2.0)
        self.assertEqual(set(res["metrics"]), set(stats.END_TO_END))

    def test_line_is_compact_json_independent_of_locale(self):
        res, _ = stats.result(self.capture())
        try:
            locale.setlocale(locale.LC_NUMERIC, "de_DE.UTF-8")
        except locale.Error:
            pass  # the locale is not installed; json ignores it either way
        try:
            line = stats.result_line(res)
        finally:
            locale.setlocale(locale.LC_NUMERIC, "C")
        self.assertNotIn("\n", line)
        self.assertNotIn(" ", line)
        self.assertIn('"latency_p50_s":{"value":2.0,"unit":"s"}', line)
        self.assertEqual(json.loads(line), res)

    def test_nan_is_refused(self):
        with self.assertRaises(ValueError):
            stats.result_line({"metrics": {"x": {"value": float("nan"), "unit": "s"}}})


class PerLayerTest(unittest.TestCase):
    def test_traced_run_reports_every_layer_metric(self):
        spans = [span(1, "pass", 0, 0, 2_000_000_000, run=1),
                 span(2, "pass.traced", 0, 0, 3_000_000_000, run=2),
                 span(3, "track.label", 2, 0, 1_000_000_000, run=2),
                 span(4, "track.stitch", 2, 1_000_000_000, 2_500_000_000, run=2)]
        stage = {"tasks": 4, "cpu_ns": 4_000_000_000, "run_ms": 4000, "gc_ms": 100,
                 "shuffle_write_b": 1048576, "shuffle_read_b": 0, "spill_b": 0,
                 "task_run_ms": [1000, 1000, 1000, 1000]}
        capture = {
            "trace": True, "workload": "track-storms", "seed": 1,
            "host": {"nproc": 4}, "info": {"items_per_op": 10, "ops_per_pass": 1},
            "passes": [
                {"pass": -1, "kind": "reference", "ok": True, "error": None,
                 "ops": [{"wall_s": 9.0, "cpu_s": 9.0}]},
                {"pass": 1, "kind": "timed", "ok": True, "retained_mb": 2.0,
                 "retained_growth_mb": 0.0, "ops": [{"wall_s": 2.0, "cpu_s": 5.0}]},
                {"pass": 2, "kind": "traced", "ok": True, "retained_mb": 2.0,
                 "retained_growth_mb": 0.0, "ops": [{"wall_s": 3.0, "cpu_s": 6.0}]}],
            "spans": spans,
            "counters": {"jobs": [{"span": 1, "jobs": 7}, {"span": 3, "jobs": 2},
                                  {"span": 4, "jobs": 3}],
                         "stages": [dict(stage, stage=1, span=1), dict(stage, stage=2, span=3)]},
        }
        res, rows = stats.result(capture)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(set(m), set(stats.PER_LAYER))
        self.assertAlmostEqual(m["track.label_s"], 1.0)
        self.assertAlmostEqual(m["track.stitch_s"], 1.5)
        self.assertEqual(m["track.jobs"], 5)
        self.assertEqual(m["spark.jobs"], 7)
        self.assertAlmostEqual(m["spark.driver_s"], 2.0 - 4.0 / 4)
        self.assertAlmostEqual(m["trace.overhead_s"], 1.0)
        self.assertEqual(m["detect.anomaly_s"], 0.0)
        self.assertEqual((rows[0]["span"], rows[0]["passes"]), ("pass.traced", 1))
        self.assertAlmostEqual(rows[0]["self_s"], 0.5)
        self.assertIn("| track.label |", stats.format_table(capture, m, rows))

    def test_max_task_ratio_takes_the_most_skewed_stage(self):
        single = {"task_run_ms": [50]}
        even = {"task_run_ms": [10, 10, 10]}
        skewed = {"task_run_ms": [10, 10, 20, 60]}
        self.assertEqual(stats.max_task_ratio([single, even, skewed]), 4.0)
        self.assertEqual(stats.max_task_ratio([single]), 0.0)


if __name__ == "__main__":
    unittest.main()
