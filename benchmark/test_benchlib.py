"""Tests of the benchmark's metric logic: percentiles and sample counts,
metric emission (name, unit, value), the result line's JSON shape, span
self times, and agreement with BENCHMARK.json.

    python3 -m unittest discover -s benchmark -p 'test_*.py'
"""
import json
import os
import unittest

import benchlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


MEMORY = {"heap_after_full_gc_peak_bytes": 384 * 2**20, "non_heap_peak_bytes": 128 * 2**20,
          "gc_events": 9, "vm_hwm_bytes": 2048 * 2**20}


def batch_raw(workload="llm_curation", failed=0):
    queries = benchlib.BATCH_QUERIES[workload]
    # one verification pass, one warm-up pass, three timed, two traced
    phases = ["verify", "warm", "timed", "timed", "timed", "traced", "traced"]
    pass_s = [9.0, 2.0, 1.0, 3.0, 2.0, 2.4, 2.6]
    execs = [{"pass": p, "phase": ph, "query": q, "build_ns": 1_000_000, "plan_ns": 1_000_000,
              "exec_ns": (i + 1) * 10_000_000, "rows": 10, "ok": True}
             for p, ph in enumerate(phases) if ph in ("timed", "traced")
             for i, q in enumerate(queries)]
    return {
        "workload": workload, "cores": 4, "memory": MEMORY,
        "host": {"loadavg_start": [1.5, 1.0, 1.0], "loadavg_end": [2.0, 1.0, 1.0],
                 "cpu_steal_share": 0.01, "nproc": 4},
        "stages": {q: {"jobs": 4, "stages": 6, "tasks": 20, "failed_tasks": 0,
                       "shuffle_write_bytes": 1000, "shuffle_read_bytes": 900,
                       "spill_bytes": 0, "gc_ms": 30, "run_ms": 400, "cpu_ns": 200_000_000,
                       "records_read": 3000, "skews": [1.0, 2.0, 3.0]} for q in queries},
        "body": {
            "setup": [{"total_s": t, "table_load_s": 0.1, "fixture_build_s": 0.0,
                       "artifact_build_s": 1.0} for t in (9.0, 3.0)],
            "passes": [{"pass": p, "phase": ph, "s": s} for p, (ph, s) in enumerate(zip(phases, pass_s))],
            "execs": execs,
            "cache": [{"pass": 0, "phase": "verify", "persisted_rdds": 2, "storage_bytes": 10,
                       "heap_after_gc_bytes": 2**20},
                      {"pass": 2, "phase": "timed", "persisted_rdds": 5, "storage_bytes": 50,
                       "heap_after_gc_bytes": 3 * 2**20}],
            "attempted": 42, "failed": failed, "errors": []},
    }


def feed_raw():
    progress = []
    for leg in ("b", "p"):
        for b in range(4):
            progress.append({"query": f"live-{leg}", "run_id": f"r{leg}", "batch": b,
                             "start": b * 100, "end": (b + 1) * 100,
                             "trigger_start_ms": 1000 + b * 100,
                             "durations_ms": {"triggerExecution": 50, "addBatch": 30,
                                              "latestOffset": 2, "getBatch": 1,
                                              "queryPlanning": 5, "walCommit": 4},
                             "rows": 100, "state_rows": 7, "state_bytes": 70,
                             "watermark_ms": 900, "observed": {"n_in": 100, "n_bad": 1, "n_leg": 60}})
    return {
        "workload": "push_feed", "cores": 3, "memory": MEMORY,
        "host": {"loadavg_start": [0.5], "loadavg_end": [0.5], "cpu_steal_share": 0.0, "nproc": 4},
        "stages": {"rb": {"jobs": 8, "stages": 8, "tasks": 16, "failed_tasks": 0,
                          "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
                          "gc_ms": 0, "run_ms": 100, "cpu_ns": 50_000_000,
                          "records_read": 0, "skews": []}},
        "body": {
            "setup": [{"total_s": t} for t in (5.0, 1.0)],
            "rate_fps": 1000.0, "t0_ms": 1000.0,
            "latency_ms": [float(x) for x in range(1, 101)],
            "backlog_frames": 1200,
            "drains": [{"phase": "timed", "s": 3.0}, {"phase": "traced", "s": 3.3}],
            "generator_max_late_ms": 3.0, "generator_valid": True,
            "progress": progress,
            "sink_ms": [{"query": "live-b", "ms": 5.0}, {"query": "live-p", "ms": 7.0},
                        {"query": "drain0-b", "ms": 100.0}],
            "attempted": 400, "failed": 0, "errors": []},
    }


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        self.assertEqual(benchlib.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(benchlib.percentile(list(range(1, 11)), 0.9), 9.1)
        self.assertEqual(benchlib.percentile([5, 1, 3], 0.0), 1)
        self.assertEqual(benchlib.percentile([5, 1, 3], 1.0), 5)

    def test_single_sample_and_empty(self):
        self.assertEqual(benchlib.percentile([7.5], 0.99), 7.5)
        with self.assertRaises(ValueError):
            benchlib.percentile([], 0.5)

    def test_median_is_unordered_input_safe(self):
        self.assertEqual(benchlib.median([3, 1, 2]), 2)

    def test_samples_beyond_a_percentile(self):
        self.assertEqual(benchlib.samples_beyond(100, 0.99), 1)
        self.assertEqual(benchlib.samples_beyond(1000, 0.99), 10)
        self.assertEqual(benchlib.samples_beyond(12, 0.90), 2)
        self.assertEqual(benchlib.samples_beyond(1, 0.5), 0)


class MetricTest(unittest.TestCase):
    def test_metric_shape(self):
        self.assertEqual(benchlib.metric(2, "s"), {"value": 2.0, "unit": "s"})
        for bad in (float("nan"), float("inf")):
            with self.assertRaises(ValueError):
                benchlib.metric(bad, "s")

    def test_batch_end_to_end(self):
        m = benchlib.end_to_end(batch_raw())
        self.assertEqual(list(m), [n for n, _ in benchlib.END_TO_END])
        self.assertEqual(m["setup_s"], {"value": 6.0, "unit": "s"})   # median of rounds
        self.assertEqual(m["pass_s_p50"]["value"], 2.0)              # timed passes only
        lat = sorted([12.0 + 10 * i for i in range(6)] * 3)           # timed executions only
        # geometric mean of the per-query means: 12, 22, ..., 62 ms
        geo = 1.0
        for i in range(6):
            geo *= (12.0 + 10 * i) ** (1 / 6)
        self.assertAlmostEqual(m["latency_ms_typical"]["value"], geo)
        self.assertAlmostEqual(m["latency_ms_tail"]["value"], benchlib.percentile(lat, 0.90))
        self.assertEqual(m["peak_mem_mb"], {"value": 512.0, "unit": "MB"})

    def test_feed_end_to_end(self):
        m = benchlib.end_to_end(feed_raw())
        self.assertEqual(m["setup_s"]["value"], 3.0)
        self.assertEqual(m["pass_s_p50"]["value"], 3.0)          # the untraced drain
        self.assertAlmostEqual(m["latency_ms_typical"]["value"], 50.5)   # median
        self.assertAlmostEqual(m["latency_ms_tail"]["value"], benchlib.percentile(
            [float(x) for x in range(1, 101)], 0.99))
        for v in m.values():
            self.assertGreater(v["value"], 0)

    def test_per_layer_covers_every_name_and_zeroes_bypassed_layers(self):
        batch = benchlib.per_layer(batch_raw(failed=3))
        self.assertEqual(list(batch), [n for n, _ in benchlib.PER_LAYER])
        self.assertEqual(batch["failed_ratio"]["value"], 3 / 42)
        self.assertEqual(batch["latency_samples"]["value"], 18)
        self.assertEqual(batch["harness.warmup_passes"]["value"], 2)
        # traced passes (median 2.5 s) against the untraced timed ones (2.0 s)
        self.assertAlmostEqual(batch["harness.trace_overhead_pct"]["value"], 25.0)
        self.assertEqual(batch["stream.trigger_ms_p50"]["value"], 0.0)
        self.assertEqual(batch["operators.persisted_rdds_growth"]["value"], 3)
        # the listener runs during the 2 traced passes; 4 jobs per query
        self.assertEqual(batch["stage.jobs"]["value"], 6 * 4 / 2)
        self.assertEqual(batch["kernel.dedup_minhash_pairs.exec_ns_per_row"]["value"], 10_000_000 / 1500)
        self.assertEqual(batch["stage.cpu_to_run_ratio"]["value"], 0.5)
        self.assertEqual(batch["stage.task_skew"]["value"], 2.0)
        feed = benchlib.per_layer(feed_raw())
        self.assertEqual(feed["query.sim_ivf_topk.exec_s_p50"]["value"], 0.0)
        self.assertEqual(feed["stream.batches"]["value"], 8)
        self.assertEqual(feed["stream.trigger_ms_p50"]["value"], 50)
        self.assertEqual(feed["stream.quarantined_frames"]["value"], 4)
        self.assertEqual(feed["stream.drain_fps"]["value"], 400.0)
        self.assertEqual(feed["sink.write_ms_p50"]["value"], 6.0)
        self.assertEqual(feed["stream.state_rows"]["value"], 14)
        self.assertAlmostEqual(feed["harness.trace_overhead_pct"]["value"], 10.0)
        for name, unit in benchlib.PER_LAYER:
            self.assertEqual(feed[name]["unit"], unit)


class ResultLineTest(unittest.TestCase):
    def test_exact_keys_and_types(self):
        m = benchlib.end_to_end(batch_raw())
        line = json.loads(benchlib.result_line(True, 42, 0, m))
        self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
        self.assertIs(line["correct"], True)
        self.assertIsInstance(line["attempted"], int)
        self.assertIsInstance(line["failed"], int)
        for v in line["metrics"].values():
            self.assertEqual(sorted(v), ["unit", "value"])
            self.assertIsInstance(v["value"], float)

    def test_needs_an_attempt(self):
        with self.assertRaises(ValueError):
            benchlib.result_line(True, 0, 0, {})


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 1, "parent": 0, "name": "pass", "start_ns": 0, "end_ns": 10_000_000_000},
            {"id": 2, "parent": 1, "name": "q", "start_ns": 1_000_000_000, "end_ns": 4_000_000_000},
            # overlaps the first child: only the uncovered part counts once
            {"id": 3, "parent": 1, "name": "q", "start_ns": 3_000_000_000, "end_ns": 5_000_000_000},
        ]
        st = benchlib.self_times(spans)
        self.assertEqual(st["pass"]["count"], 1)
        self.assertAlmostEqual(st["pass"]["total_s"], 10.0)
        self.assertAlmostEqual(st["pass"]["self_s"], 6.0)
        self.assertEqual(st["q"]["count"], 2)
        self.assertAlmostEqual(st["q"]["self_s"], 5.0)


class WorkloadTest(unittest.TestCase):
    def test_batch_mix_runs_both_mixes_and_names_each_query_once(self):
        self.assertEqual(benchlib.BATCH_QUERIES["batch_mix"],
                         benchlib.BATCH_QUERIES["betting_etl"] + benchlib.BATCH_QUERIES["llm_curation"])
        names = [n for n, _ in benchlib.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        m = benchlib.per_layer(batch_raw("batch_mix"))
        self.assertEqual(m["latency_samples"]["value"], 12 * 3)
        self.assertGreater(m["query.x_flagship_flatten.exec_s_p50"]["value"], 0)
        self.assertGreater(m["query.sim_graph_adc_topk.exec_s_p50"]["value"], 0)


class BenchmarkJsonTest(unittest.TestCase):
    def test_declared_metrics_match_the_emitted_ones(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], benchlib.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], benchlib.PER_LAYER)
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(benchlib.WORKLOADS))
        self.assertLessEqual(len(spec["per_layer"]), 128)


if __name__ == "__main__":
    unittest.main()
