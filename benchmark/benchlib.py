"""Turns the harness's raw samples into the benchmark's metrics.

The JVM harness (graftbench.Harness) writes samples, not summaries: every
query execution, every pass, every micro-batch progress event, every span.
This module computes the end-to-end and per-layer metrics from them, so the
percentile and sample-count logic lives in one place and is unit-tested
(test_benchlib.py) without a JVM.
"""
import json
import math

# Workloads the benchmark can run. push_feed is open-loop; the others are
# closed-loop batch mixes (see README.md).
BATCH_QUERIES = {
    "betting_etl": ["seeding_pipeline", "x_flagship_flatten", "decode_roundtrip",
                    "wager_book_replay", "t_window_hourly", "t_session_windows"],
    "llm_curation": ["dedup_minhash_pairs", "dedup_exact_substr", "pipeline_curate_full",
                     "sim_ivf_topk", "sim_graph_adc_topk", "text_bm25_topk"],
}
# Both mixes in one closed loop (graftbench.BatchMix.Both).
BATCH_QUERIES["batch_mix"] = BATCH_QUERIES["betting_etl"] + BATCH_QUERIES["llm_curation"]
WORKLOADS = list(BATCH_QUERIES) + ["push_feed"]
KERNEL_QUERIES = ["x_flagship_flatten", "decode_roundtrip", "dedup_exact_substr",
                  "dedup_minhash_pairs", "sim_graph_adc_topk"]
# Tail percentile of the latency metric: a query latency sample per
# execution is scarce (tens per run), a frame latency sample is plentiful.
TAIL_Q = {"betting_etl": 0.90, "llm_curation": 0.90, "batch_mix": 0.90, "push_feed": 0.99}

# (name, unit) of every end-to-end metric, printed on untraced runs.
END_TO_END = [
    ("setup_s", "s"),
    ("pass_s_p50", "s"),
    ("latency_ms_typical", "ms"),
    ("latency_ms_tail", "ms"),
    ("peak_mem_mb", "MB"),
]


def _per_layer_names():
    names = [
        ("failed_ratio", "ratio"),
        ("latency_samples", "count"),
        ("harness.warmup_passes", "count"),
        ("harness.trace_overhead_pct", "%"),
        ("host.loadavg_start", "load"),
        ("host.cpu_steal_pct", "%"),
        ("sources.table_load_s", "s"),
        ("sources.fixture_build_s", "s"),
        ("sources.artifact_build_s", "s"),
        ("sources.replay_lag_frames_max", "count"),
        ("stream.latest_offset_ms_p50", "ms"),
        ("stream.get_batch_ms_p50", "ms"),
    ]
    for q in BATCH_QUERIES["batch_mix"]:
        for step in ("build", "plan", "exec"):
            names.append((f"query.{q}.{step}_s_p50", "s"))
    for q in KERNEL_QUERIES:
        names.append((f"kernel.{q}.exec_ns_per_row", "ns/row"))
    names += [
        ("operators.persisted_rdds_end", "count"),
        ("operators.persisted_rdds_growth", "count"),
        ("operators.storage_bytes_end", "bytes"),
        ("operators.heap_after_gc_mb_end", "MB"),
        ("stage.jobs", "count"),
        ("stage.tasks", "count"),
        ("stage.shuffle_write_bytes", "bytes"),
        ("stage.shuffle_read_bytes", "bytes"),
        ("stage.spill_bytes", "bytes"),
        ("stage.gc_s", "s"),
        ("stage.cpu_to_run_ratio", "ratio"),
        ("stage.task_skew", "ratio"),
        ("stage.failed_tasks", "count"),
        ("stream.batches", "count"),
        ("stream.trigger_ms_p50", "ms"),
        ("stream.trigger_ms_p99", "ms"),
        ("stream.query_planning_ms_p50", "ms"),
        ("stream.add_batch_ms_p50", "ms"),
        ("stream.wal_commit_ms_p50", "ms"),
        ("stream.rows_per_batch_p50", "count"),
        ("stream.state_rows", "count"),
        ("stream.state_bytes", "bytes"),
        ("stream.watermark_lag_ms", "ms"),
        ("stream.quarantined_frames", "count"),
        ("stream.drain_fps", "1/s"),
        ("stream.generator_max_late_ms", "ms"),
        ("sink.write_ms_p50", "ms"),
    ]
    return names


PER_LAYER = _per_layer_names()


def percentile(values, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty sequence."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 0.5)


def samples_beyond(n, q):
    """How many of n samples lie strictly above the q-quantile's position."""
    return max(0, n - 1 - math.floor(q * (n - 1)))


def _p50_or_zero(values):
    return median(values) if values else 0.0


def metric(value, unit):
    v = float(value)
    if math.isnan(v) or math.isinf(v):
        raise ValueError(f"metric value {value!r} is not a finite number")
    return {"value": v, "unit": unit}


# ---- end to end ---------------------------------------------------------------

def latencies_ms(raw):
    """Per-operation latency samples: one per timed query execution on the
    batch mixes, one per timed frame on push_feed."""
    body = raw["body"]
    if raw["workload"] == "push_feed":
        return body["latency_ms"]
    return [(e["build_ns"] + e["plan_ns"] + e["exec_ns"]) / 1e6
            for e in body["execs"] if e["ok"] and e["phase"] == "timed"]


def pass_times_s(raw, phase="timed"):
    """Wall times of the passes of one phase ("verify", "warm", "timed" or
    "traced"): passes over the query mix, or drains of the push_feed
    backlog."""
    body = raw["body"]
    passes = body["drains"] if raw["workload"] == "push_feed" else body["passes"]
    return [p["s"] for p in passes if p["phase"] == phase]


def typical_latency_ms(raw):
    """The typical operation latency. push_feed: the median frame latency.
    Batch mixes: the geometric mean over queries of each query's mean
    latency, so that every query of the mix weighs the same. (The median
    of a mix of a dozen queries with latencies 0.3-2.3 s sits between two
    of them and jumps with whichever is faster in a run.)"""
    if raw["workload"] == "push_feed":
        return median(latencies_ms(raw))
    per_query = {}
    for e in raw["body"]["execs"]:
        if e["ok"] and e["phase"] == "timed":
            per_query.setdefault(e["query"], []).append((e["build_ns"] + e["plan_ns"] + e["exec_ns"]) / 1e6)
    logs = [math.log(sum(v) / len(v)) for v in per_query.values()]
    return math.exp(sum(logs) / len(logs))


def peak_mem_bytes(raw):
    """Largest heap in use right after a full garbage collection (the live
    set), plus the peak of the non-heap pools (class metadata, JIT code)."""
    mem = raw["memory"]
    return mem["heap_after_full_gc_peak_bytes"] + mem["non_heap_peak_bytes"]


def end_to_end(raw):
    """The end-to-end metrics of one run, as {name: {"value", "unit"}}."""
    w = raw["workload"]
    lat = latencies_ms(raw)
    values = {
        "setup_s": median([r["total_s"] for r in raw["body"]["setup"]]),
        "pass_s_p50": median(pass_times_s(raw)),
        "latency_ms_typical": typical_latency_ms(raw),
        "latency_ms_tail": percentile(lat, TAIL_Q[w]),
        "peak_mem_mb": peak_mem_bytes(raw) / 2**20,
    }
    return {n: metric(values[n], u) for n, u in END_TO_END}


# ---- per layer ------------------------------------------------------------------

def _stage_totals(stages, groups):
    keys = ["jobs", "tasks", "failed_tasks", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "gc_ms", "run_ms", "cpu_ns", "records_read"]
    out = {k: 0 for k in keys}
    skews = []
    for g in groups:
        t = stages.get(g)
        if t is None:
            continue
        for k in keys:
            out[k] += t[k]
        skews += t["skews"]
    out["skews"] = skews
    return out


def _stage_metrics(tot, per):
    per = max(per, 1)
    return {
        "stage.jobs": tot["jobs"] / per,
        "stage.tasks": tot["tasks"] / per,
        "stage.shuffle_write_bytes": tot["shuffle_write_bytes"] / per,
        "stage.shuffle_read_bytes": tot["shuffle_read_bytes"] / per,
        "stage.spill_bytes": tot["spill_bytes"] / per,
        "stage.gc_s": tot["gc_ms"] / 1e3 / per,
        "stage.cpu_to_run_ratio": tot["cpu_ns"] / 1e6 / tot["run_ms"] if tot["run_ms"] else 0.0,
        "stage.task_skew": _p50_or_zero(tot["skews"]),
        "stage.failed_tasks": tot["failed_tasks"] / per,
    }


def _batch_layers(raw, v):
    """Query, kernel and stage metrics of the traced passes (the stage
    listener runs only during them); cache counters of the whole run."""
    body = raw["body"]
    stages = dict(raw.get("stages") or {})
    setup = body["setup"]
    v["sources.table_load_s"] = median([r["table_load_s"] for r in setup])
    v["sources.fixture_build_s"] = median([r["fixture_build_s"] for r in setup])
    v["sources.artifact_build_s"] = median([r["artifact_build_s"] for r in setup])
    v["harness.warmup_passes"] = len(pass_times_s(raw, "verify")) + len(pass_times_s(raw, "warm"))
    execs = [e for e in body["execs"] if e["ok"] and e["phase"] == "traced"]
    queries = BATCH_QUERIES[raw["workload"]]
    traced_passes = len(pass_times_s(raw, "traced"))
    for q in queries:
        mine = [e for e in execs if e["query"] == q]
        for step in ("build", "plan", "exec"):
            v[f"query.{q}.{step}_s_p50"] = _p50_or_zero([e[f"{step}_ns"] / 1e9 for e in mine])
        if q in KERNEL_QUERIES and mine and q in stages:
            per_exec_rows = stages[q]["records_read"] / max(traced_passes, 1)
            exec_ns = median([e["exec_ns"] for e in mine])
            v[f"kernel.{q}.exec_ns_per_row"] = exec_ns / per_exec_rows if per_exec_rows else 0.0
    cache = body["cache"]
    if cache:
        v["operators.persisted_rdds_end"] = cache[-1]["persisted_rdds"]
        v["operators.persisted_rdds_growth"] = cache[-1]["persisted_rdds"] - cache[0]["persisted_rdds"]
        v["operators.storage_bytes_end"] = cache[-1]["storage_bytes"]
        v["operators.heap_after_gc_mb_end"] = cache[-1]["heap_after_gc_bytes"] / 2**20
    v.update(_stage_metrics(_stage_totals(stages, queries), traced_passes))


def _feed_layers(raw, v):
    body = raw["body"]
    stages = dict(raw.get("stages") or {})
    name = "live"
    live = [p for p in body["progress"] if p["query"] in (name + "-b", name + "-p")]
    rate = body["rate_fps"]
    t0 = body["t0_ms"]

    def due_count(ms):
        return max(0.0, (ms - t0) * rate / 1000.0)

    def dur(k):
        return [p["durations_ms"].get(k, 0) for p in live]

    if live:
        lags = [due_count(p["trigger_start_ms"] + p["durations_ms"].get("triggerExecution", 0)) - p["end"]
                for p in live]
        v["sources.replay_lag_frames_max"] = max(0.0, max(lags))
        v["stream.latest_offset_ms_p50"] = median(dur("latestOffset"))
        v["stream.get_batch_ms_p50"] = median(dur("getBatch"))
        v["stream.batches"] = len(live)
        v["stream.trigger_ms_p50"] = median(dur("triggerExecution"))
        v["stream.trigger_ms_p99"] = percentile(dur("triggerExecution"), 0.99)
        v["stream.query_planning_ms_p50"] = median(dur("queryPlanning"))
        v["stream.add_batch_ms_p50"] = median(dur("addBatch"))
        v["stream.wal_commit_ms_p50"] = median(dur("walCommit"))
        v["stream.rows_per_batch_p50"] = median([p["rows"] for p in live])
        last = {}
        for p in live:
            last[p["query"]] = p
        v["stream.state_rows"] = sum(p["state_rows"] for p in last.values())
        v["stream.state_bytes"] = sum(p["state_bytes"] for p in last.values())
        wm = [p["trigger_start_ms"] + p["durations_ms"].get("triggerExecution", 0) - p["watermark_ms"]
              for p in live if p["query"] == name + "-b" and p["watermark_ms"] > 0]
        v["stream.watermark_lag_ms"] = _p50_or_zero(wm)
        v["stream.quarantined_frames"] = sum(p["observed"].get("n_bad", 0)
                                             for p in live if p["query"] == name + "-b")
        run_ids = {p["run_id"] for p in live}
        v.update(_stage_metrics(_stage_totals(stages, run_ids), len(live)))
    v["stream.drain_fps"] = body["backlog_frames"] / median(pass_times_s(raw))
    v["stream.generator_max_late_ms"] = body["generator_max_late_ms"]
    v["sink.write_ms_p50"] = _p50_or_zero([s["ms"] for s in body["sink_ms"] if s["query"].startswith(name)])


def per_layer(raw):
    """The per-layer metrics of one traced run; layers a workload bypasses
    report 0. The tracing overhead compares the run's traced passes with
    its untraced ones."""
    body = raw["body"]
    v = {n: 0.0 for n, _ in PER_LAYER}
    attempted = max(body["attempted"], 1)
    v["failed_ratio"] = body["failed"] / attempted
    v["latency_samples"] = len(latencies_ms(raw))
    if raw["workload"] == "push_feed":
        _feed_layers(raw, v)
    else:
        _batch_layers(raw, v)
    untraced = median(pass_times_s(raw, "timed"))
    v["harness.trace_overhead_pct"] = 100.0 * (median(pass_times_s(raw, "traced")) - untraced) / untraced
    host = raw["host"]
    v["host.loadavg_start"] = host["loadavg_start"][0] if host["loadavg_start"] else 0.0
    v["host.cpu_steal_pct"] = 100.0 * host["cpu_steal_share"]
    return {n: metric(v[n], u) for n, u in PER_LAYER}


# ---- spans --------------------------------------------------------------------

def self_times(spans):
    """Per span name: count, total and self time in seconds. Self time is a
    span's duration minus the part of it that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        covered = 0
        cursor = s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo = max(c["start_ns"], cursor)
            hi = min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += dur / 1e9
        agg["self_s"] += (dur - covered) / 1e9
    return out


# ---- the result line ------------------------------------------------------------

def result_line(correct, attempted, failed, metrics):
    """The last stdout line: exactly correct / attempted / failed / metrics."""
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
