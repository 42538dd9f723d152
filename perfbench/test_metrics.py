"""Tests of the benchmark's own logic: percentiles, span self time, metric
names and units, and the metrics computed from a raw measurement.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")


def span(id, parent, kind, start, end, name=None):
    return {"id": id, "parent": parent, "kind": kind, "name": name or kind,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9),
            "start_ms": start * 1000, "end_ms": end * 1000}


def sample(gate, wall, rows=10, **extra):
    return dict({"gate": gate, "wall_s": wall, "cpu_s": 2 * wall, "rows": rows}, **extra)


def traced_sample(gate, wall, rows=10):
    return sample(gate, wall, rows, build_s=0.1, plan_s=0.2, exec_s=wall - 0.3,
                  analysis_ms=10, optimization_ms=20, planning_ms=30)


COUNTERS = {"gc_ms": 100, "jit_ms": 2000, "codegen_compile_ns": 3 * 10**9,
            "codegen_gen_ns": 10**9, "codegen_compilations": 7}


def raw_run():
    """A traced run: cold pass, warm-up pass 1, untraced pass 2 and 4,
    traced pass 3 and 5."""
    passes = [{"index": 0, "warmup": False, "traced": False, "wall_s": 9.0, "cpu_s": 18.0,
               "counters": COUNTERS, "samples": [sample("a", 5.0), sample("stream_x", 4.0)]},
              {"index": 1, "warmup": True, "traced": False, "wall_s": 7.0, "cpu_s": 14.0,
               "counters": COUNTERS, "samples": [sample("a", 3.0), sample("stream_x", 4.0)]}]
    for i, wall in [(2, 3.0), (3, 3.5), (4, 2.0), (5, 4.5)]:
        traced = i % 2 == 1
        mk = traced_sample if traced else sample
        passes.append({"index": i, "warmup": False, "traced": traced, "wall_s": wall,
                       "cpu_s": 2 * wall, "counters": COUNTERS,
                       "samples": [mk("a", 1.0), mk("stream_x", 2.0)]})
    spans = [span(0, -1, "run", 0, 100)]
    for i, t in [(3, 10), (5, 20)]:
        spans += [span(i * 10, 0, "pass", t, t + 5, "pass%d" % i),
                  span(i * 10 + 1, i * 10, "gate", t, t + 2, "a"),
                  span(i * 10 + 2, i * 10 + 1, "build", t, t + 0.5),
                  span(i * 10 + 3, i * 10, "gate", t + 2, t + 5, "stream_x"),
                  span(i * 10 + 4, i * 10 + 3, "build", t + 2, t + 4)]
    listener = {}
    for i in (3, 5):
        listener["p%d/a/execute" % i] = {"jobs": 2, "stages": 3, "tasks": 8, "run_ms": 800,
                                         "input_bytes": 1000, "peak_exec_mem_bytes": 2 * metrics.MB}
        listener["p%d/stream_x/build" % i] = {"jobs": 4, "tasks": 4, "run_ms": 400}
    events = []
    for i, t in [(3, 10), (5, 20)]:
        stamp = "1970-01-01T00:00:%02d.500Z" % (t + 2)
        events.append({"kind": "started", "run_id": "r%d" % i, "timestamp": stamp})
        for b, rows in [(0, 100), (1, 0)]:
            events.append({"kind": "progress", "run_id": "r%d" % i, "timestamp": stamp,
                           "batch_id": b, "input_rows": rows,
                           "duration_ms": {"triggerExecution": 600, "addBatch": 400},
                           "state_commit_ms": 50, "state_rows": 10 + b,
                           "state_mem_bytes": metrics.MB})
    return {
        "env": {"nproc": 4},
        "setup": [{"setup_s": wall, "cpu_s": 2 * wall, "session_s": session}
                  for wall, session in [(10.0, 1.0), (0.7, 0.1), (0.9, 0.3), (0.8, 0.2)]],
        "passes": passes, "canary_s": [0.1, 0.3, 0.2], "peak_heap_bytes": 512 * metrics.MB,
        "spans": spans, "listener": listener, "stream_events": events,
        "census": {"a": {"exchanges": 2, "scans": 1, "bnl_joins": 0, "non_wscg_ops": 5,
                         "interpreted_hof": 1, "codegen_fallback": 3},
                   "stream_x": {"exchanges": 0, "scans": 1, "bnl_joins": 1,
                                "non_wscg_ops": 2, "interpreted_hof": 0,
                                "codegen_fallback": 0}},
    }


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_closest_ranks(self):
        self.assertAlmostEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertAlmostEqual(metrics.percentile([1, 2, 3, 4], 90), 3.7)
        self.assertAlmostEqual(metrics.percentile(list(range(101)), 90), 90.0)

    def test_ends_and_single_value(self):
        self.assertEqual(metrics.percentile([5, 1, 9], 0), 1)
        self.assertEqual(metrics.percentile([5, 1, 9], 100), 9)
        self.assertEqual(metrics.percentile([7.5], 90), 7.5)

    def test_no_values_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(0, -1, "gate", 0, 10),
                 span(1, 0, "build", 1, 3), span(2, 0, "plan", 2, 4),
                 span(3, 0, "execute", 5, 6)]
        got = metrics.self_times(spans)
        self.assertAlmostEqual(got["gate"], 10 - 3 - 1)   # [1,4) and [5,6)
        self.assertAlmostEqual(got["build"], 2)
        self.assertAlmostEqual(got["execute"], 1)

    def test_child_outside_parent_is_clipped(self):
        got = metrics.self_times([span(0, -1, "pass", 0, 4), span(1, 0, "gate", 3, 9)])
        self.assertAlmostEqual(got["pass"], 3)

    def test_kinds_sum_over_spans(self):
        got = metrics.self_times([span(0, -1, "gate", 0, 1), span(1, -1, "gate", 5, 7)])
        self.assertAlmostEqual(got["gate"], 3)


class MetricNameTest(unittest.TestCase):
    def setUp(self):
        with open(BENCHMARK_JSON) as fh:
            self.bench = json.load(fh)

    def test_names_match_benchmark_json(self):
        self.assertEqual([m["name"] for m in self.bench["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([m["name"] for m in self.bench["per_layer"]], metrics.PER_LAYER)

    def test_units_match_benchmark_json(self):
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertEqual(m["unit"], metrics.unit_of(m["name"]), m["name"])

    def test_unit_of(self):
        self.assertEqual(metrics.unit_of("setup_s"), "s")
        self.assertEqual(metrics.unit_of("scan.bytes_read"), "bytes")
        self.assertEqual(metrics.unit_of("executor.peak_exec_mem_mb"), "MB")
        self.assertEqual(metrics.unit_of("executor.busy_ratio"), "ratio")
        self.assertEqual(metrics.unit_of("catalyst.exchanges"), "count")

    def test_workloads_match_run_py(self):
        import run
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]),
                         sorted(run.WORKLOADS))


class MetricsFromRawTest(unittest.TestCase):
    def test_end_to_end(self):
        got = metrics.end_to_end(raw_run())
        self.assertTrue(set(metrics.END_TO_END) <= set(got))
        self.assertAlmostEqual(got["setup_s"], 1.6)           # cold set-up left out
        self.assertAlmostEqual(got["cold_pass_cpu_s"], 18.0)
        self.assertAlmostEqual(got["warm_pass_cpu_s"], 5.0)   # untraced, not warm-up
        self.assertAlmostEqual(got["gate_cpu_p50_s"], 3.0)
        self.assertAlmostEqual(got["gate_cpu_p90_s"], 4.0)
        self.assertAlmostEqual(got["wall_setup_s"], 0.8)
        self.assertAlmostEqual(got["wall_cold_pass_s"], 9.0)
        self.assertAlmostEqual(got["wall_warm_pass_s"], 2.5)
        self.assertAlmostEqual(got["wall_gate_p50_s"], 1.5)
        self.assertAlmostEqual(got["wall_gate_p90_s"], 2.0)

    def test_per_layer_has_every_name(self):
        got = metrics.per_layer(raw_run())
        self.assertEqual(sorted(got), sorted(metrics.PER_LAYER))

    def test_per_layer_values(self):
        got = metrics.per_layer(raw_run())
        self.assertEqual(got["executor.jobs"], 6)
        self.assertEqual(got["sparkentry.build_jobs"], 4)
        self.assertEqual(got["catalyst.exchanges"], 2)
        self.assertEqual(got["catalyst.bnl_joins"], 1)
        self.assertEqual(got["functions.interpreted_hof"], 1)
        self.assertAlmostEqual(got["catalyst.optimization_s"], 0.04)
        self.assertAlmostEqual(got["codegen.cold_compile_s"], 3.0)
        self.assertAlmostEqual(got["executor.busy_ratio"], 0.8 / ((0.7 + 1.7) * 4))
        self.assertAlmostEqual(got["executor.peak_exec_mem_mb"], 2.0)
        self.assertEqual(got["streaming.queries"], 1)
        self.assertEqual(got["streaming.batches"], 2)
        self.assertEqual(got["streaming.empty_batches"], 1)
        self.assertEqual(got["streaming.state_rows"], 11)   # last batch of the query
        self.assertAlmostEqual(got["streaming.trigger_s"], 1.2)
        self.assertAlmostEqual(got["streaming.harness_s"], 0.1 - 1.2)
        self.assertAlmostEqual(got["streaming.readback_s"], 1.7)
        self.assertAlmostEqual(got["box.canary_s"], 0.2)
        self.assertAlmostEqual(got["jvm.peak_heap_mb"], 512)
        self.assertAlmostEqual(got["engine.cold_setup_s"], 10.0)
        self.assertAlmostEqual(got["engine.session_s"], 0.2)
        self.assertAlmostEqual(got["trace.overhead_s"], 4.0 - 2.5)
        self.assertAlmostEqual(got["trace.gate_self_s"], 1.5 + 1.0)

    def test_failures_count_errors_and_row_mismatches(self):
        raw = raw_run()
        raw["passes"][1]["samples"][0] = sample("a", 1.0, rows=11)
        raw["passes"][4]["samples"][1] = {"gate": "stream_x", "wall_s": 1.0, "cpu_s": 1.0,
                                          "error": "boom"}
        bad = metrics.failures(raw, {"a": 10, "stream_x": 10})
        self.assertEqual([(i, g) for i, g, _ in bad], [(1, "a"), (4, "stream_x")])
        self.assertEqual(len(metrics.gate_runs(raw)), 12)

    def test_unverified_gate_fails_every_run(self):
        bad = metrics.failures(raw_run(), {"a": 10})
        self.assertEqual(len(bad), 6)

    def test_result_has_exactly_the_contract_keys(self):
        out = metrics.result({"setup_s": 1.5}, ["setup_s"], True, 10, 0)
        self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
        self.assertEqual(out["metrics"], {"setup_s": {"value": 1.5, "unit": "s"}})


if __name__ == "__main__":
    unittest.main()
