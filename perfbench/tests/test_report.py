"""Unit tests for the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import report  # noqa: E402


def span(id_, parent, kind, name, start, end, **counters):
    return dict(id=id_, parent=parent, kind=kind, name=name, start=start, end=end, **counters)


def sample(op, module, wall_s, ok=True):
    return {"op": op, "module": module, "wall_s": wall_s, "ok": ok, "tag": "p0"}


class PercentileRule(unittest.TestCase):
    def test_refuses_p90_below_100_samples(self):
        with self.assertRaises(ValueError):
            report.percentile(list(range(99)), 0.9)

    def test_p90_at_100_samples(self):
        self.assertAlmostEqual(report.percentile(list(range(100)), 0.9), 89.1)

    def test_median_needs_no_tail(self):
        self.assertEqual(report.percentile([3.0, 1.0, 2.0], 0.5), 2.0)

    def test_highest_supported_percentile_is_reported(self):
        raw = {"untraced": {"samples": [sample("q", "analytics", i / 1000) for i in range(1, 51)]}}
        lat = report.latency_summary(raw)
        self.assertEqual(lat["samples"], 50)
        self.assertIn("p80_ms", lat)
        self.assertNotIn("p90_ms", lat)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        spans = [
            span(1, 0, "op", "q", 0.0, 10.0),
            # two overlapping phases cover [1, 6); a third sticks out past
            # the parent's end and only [8, 10) of it counts
            span(2, 1, "phase", "construct", 1.0, 4.0),
            span(3, 1, "phase", "execute", 3.0, 6.0),
            span(4, 1, "phase", "write", 8.0, 12.0),
            span(5, 3, "job", "job 0", 3.5, 5.5),
        ]
        selfs = report.self_times(spans)
        self.assertAlmostEqual(selfs["op"], 10.0 - 5.0 - 2.0)
        self.assertAlmostEqual(selfs["construct"], 3.0)
        self.assertAlmostEqual(selfs["execute"], 3.0 - 2.0)
        self.assertAlmostEqual(selfs["write"], 4.0)
        self.assertAlmostEqual(selfs["job"], 2.0)

    def test_union_length_clips_and_merges(self):
        self.assertAlmostEqual(report.union_length([(0, 2), (1, 3), (5, 9)], 1, 6), 3.0)


class SingleTaskStages(unittest.TestCase):
    def test_share_and_longest_stage_from_listener_stages(self):
        # what the listener records: one span per completed stage with the
        # number of tasks that ended in it
        stages = [
            span(10, 1, "stage", "stage 0", 0.0, 6.0, num_tasks=8, tasks=1),
            span(11, 1, "stage", "stage 1", 6.0, 8.0, num_tasks=4, tasks=4),
            span(12, 1, "stage", "stage 2", 8.0, 10.0, num_tasks=1, tasks=1),
        ]
        share, longest_tasks = report.stage_shape(stages)
        self.assertAlmostEqual(share, 0.8)
        self.assertEqual(longest_tasks, 1)

    def test_no_stages(self):
        self.assertEqual(report.stage_shape([]), (0.0, 0))


def synthetic_raw():
    """A traced run of one pass of two ops, as `perfbench.Driver` writes it."""
    samples = [sample("q_heatmap", "analytics", 0.4), sample("etl_quarantine", "etl", 0.6)]
    spans = [
        span(1, 0, "run", "run", 0.0, 1000.0),
        span(2, 1, "op", "q_heatmap", 0.0, 400.0),
        span(3, 2, "phase", "construct", 0.0, 50.0),
        span(4, 2, "phase", "plan", 50.0, 80.0),
        span(5, 2, "phase", "execute", 80.0, 400.0),
        span(6, 5, "job", "job 0", 90.0, 390.0),
        span(7, 6, "stage", "stage 0", 100.0, 380.0, num_tasks=1, tasks=1, run_ms=250.0,
             cpu_ns=2e8, input_bytes=1000.0, input_rows=100.0),
        span(8, 1, "op", "etl_quarantine", 400.0, 1000.0),
        span(9, 8, "phase", "construct", 400.0, 450.0),
        span(10, 9, "job", "job 1", 410.0, 440.0),
        span(11, 8, "phase", "write", 450.0, 1000.0),
        span(12, 11, "job", "job 2", 460.0, 990.0),
        span(13, 12, "stage", "stage 1", 470.0, 980.0, num_tasks=4, tasks=4, run_ms=1600.0,
             cpu_ns=1.2e9, input_bytes=4000.0, input_rows=400.0, output_bytes=2000.0,
             shuffle_write_bytes=10.0),
    ]
    window = {"samples": samples, "passes_s": [1.0], "elapsed_s": 1.0}
    return {
        "timeline_ms": {"launch": 0, "ready": 5000},
        "untraced": window,
        "traced": dict(window, spans=spans, gc_ms=20, heap_peak_mb=512.0),
    }


class MetricNames(unittest.TestCase):
    def setUp(self):
        self.bench = json.load(open(os.path.join(HERE, "..", "..", "BENCHMARK.json")))

    def test_declared_metrics_match_the_report(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]], report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]], report.PER_LAYER)
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(report.WORKLOAD_OPS))

    def test_every_declared_metric_is_emitted(self):
        raw = synthetic_raw()
        e2e = report.end_to_end(raw, input_rows=1000)
        layer = report.per_layer(raw, rows_returned={"q_heatmap": 10}, files_written=3, cores=4)
        for group, values in [("end_to_end", e2e), ("per_layer", layer)]:
            for m in self.bench[group]:
                self.assertIn(m["name"], values, group)
                self.assertIsInstance(values[m["name"]], (int, float), m["name"])
        self.assertEqual(e2e["load_rows_per_s"], 1000.0)
        self.assertAlmostEqual(layer["scheduler.single_task_stage_share"], 280 / 790)
        self.assertEqual(layer["scheduler.longest_stage_tasks"], 4)
        self.assertEqual(layer["etl.eager_jobs"], 1)
        self.assertAlmostEqual(layer["catalyst.plan_s"], 0.03)
        self.assertAlmostEqual(layer["compute.core_busy_share"], 1.85 / 4)
        self.assertAlmostEqual(layer["analytics.rows_scanned_per_row_returned"], 10.0)


if __name__ == "__main__":
    unittest.main()
