#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 benchmark/run.py --workload batch_mix --seed 7 --seconds 4 --trace 0

Builds the program and the harness from source (sbt, once per source
state), generates the input tables (once per checkout), starts the harness
JVM on a fresh work directory, then turns its raw samples into metrics
(benchlib.py). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Everything the
run writes stays under <checkout>/.bench_build; the full record of a run
(host evidence, sample counts, errors, span self times) goes to
.bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import benchlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# Input tables: fixed content (the goldens in golden.json depend on it);
# the --seed only orders the batch passes and draws the push-feed frames.
DATA_SF = "0.03"
DATA_SEED = "42"
CORES_MAX = 4
# A fixed-size heap with fixed generations: no heap resizing between runs,
# so GC work depends on what the program allocates, not on the collector's
# sizing heuristics. Peak memory is read from the heap in use after full
# collections, not from the resident set this heap size would dominate.
JVM_OPTS = ["-Xms2560m", "-Xmx2560m", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
JVM_TIMEOUT_S = 165
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "benchmark/build.sbt", "benchmark/project/build.properties", "benchmark/src"]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def source_stamp(paths):
    h = hashlib.sha256()
    for rel in paths:
        top = os.path.join(ROOT, rel)
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


_child = None


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout
    or when this process is terminated, and always waits for it."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} …")
    finally:
        _child = None


def on_term(signum, _frame):
    if _child is not None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()
        except ProcessLookupError:
            pass
    sys.exit(128 + signum)


def build():
    """sbt-compiles program + harness when the sources changed; returns the
    harness classpath."""
    stamp = source_stamp(SOURCES)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building program and harness (sbt) …")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    out_log = os.path.join(BUILD, "build.log")
    with open(out_log, "w") as fh:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}", "writeClasspath"],
                       timeout=840, cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(out_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (exit {rc}); full log in {out_log}")
    shutil.copyfile(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


def java_cmd(classpath, tmp, *args):
    """The harness JVM; `tmp` (inside the checkout) is its java.io.tmpdir."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    os.makedirs(tmp, exist_ok=True)
    return [java, *JVM_OPTS, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", *opens,
            "-Dspark.ui.enabled=false", "-cp", classpath, "graftbench.Harness", *args]


def data_dir(classpath):
    """Generates the input tables once per generator version."""
    d = os.path.join(BUILD, "data", f"sf{DATA_SF}-{source_stamp(['benchmark/src/main/scala/graftbench/DataGen.scala'])}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        log(f"generating input tables at sf {DATA_SF} …")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.join(BUILD, "data"), exist_ok=True)
        rc = run_child(java_cmd(classpath, os.path.join(BUILD, "tmp"), "gen", d, DATA_SF, DATA_SEED),
                       timeout=300,
                       cwd=BUILD, stdout=sys.stderr)
        if rc != 0:
            fail(f"data generation failed (exit {rc})")
        open(os.path.join(d, "_DONE"), "w").close()
    return d


SETUP_ROUNDS = 2  # graftbench.Harness.SetupRounds


def prepare_work(data, rounds=SETUP_ROUNDS):
    """A fresh work dir holding one link-copy of the tables per set-up round."""
    work = os.path.join(BUILD, "runs", f"run-{os.getpid()}-{time.time_ns()}")
    for r in range(rounds):
        dst = os.path.join(work, f"data_{r}")
        os.makedirs(dst)
        for f in os.listdir(data):
            if f.endswith(".parquet"):
                try:
                    os.link(os.path.join(data, f), os.path.join(dst, f))
                except OSError:
                    shutil.copyfile(os.path.join(data, f), os.path.join(dst, f))
    return work


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=benchlib.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-golden", action="store_true",
                    help="recompute golden.json from the current program and exit")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_term)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"program sources not found under {ROOT}: the benchmark builds the "
             "program from the checkout it sits in", code=2)
    os.makedirs(BUILD, exist_ok=True)
    classpath = build()
    data = data_dir(classpath)
    golden = os.path.join(HERE, "golden.json")
    work = prepare_work(data)
    env = dict(os.environ, GRAFT_FIXTURE_CACHE_DIR=os.path.join(work, "fixture"))
    try:
        if args.write_golden:
            rc = run_child(java_cmd(classpath, os.path.join(work, "tmp"), "golden", work, golden), timeout=600,
                           cwd=work, env=env, stdout=sys.stderr)
            fail(f"golden.json written (exit {rc})", code=rc)
        # One core stays free: for the frame generator thread on push_feed,
        # for the query planning, JIT and GC threads on the batch mixes.
        cores = max(1, min(CORES_MAX, os.cpu_count() or 1) - 1)
        raw_path = os.path.join(work, "raw.json")
        rc = run_child(java_cmd(classpath, os.path.join(work, "tmp"), "run", args.workload, str(args.seed), str(args.seconds),
                                str(args.trace), str(cores), work, golden, raw_path),
                       timeout=JVM_TIMEOUT_S, cwd=work, env=env, stdout=sys.stderr)
        if rc != 0 or not os.path.exists(raw_path):
            fail(f"harness exited with {rc}")
        with open(raw_path) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(args, raw)


def report(args, raw):
    body = raw["body"]
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    e2e = benchlib.end_to_end(raw)
    metrics = benchlib.per_layer(raw) if args.trace else e2e
    attempted, failed = body["attempted"], body["failed"]
    correct = failed == 0 and attempted > 0
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": raw["cores"], "correct": correct,
        "attempted": attempted, "failed": failed, "errors": body["errors"][:50],
        "end_to_end": e2e, "metrics": metrics, "host": raw["host"],
        "memory": raw["memory"],
        "setup_rounds": body["setup"],
        "warmup_pass_s": benchlib.pass_times_s(raw, "verify") + benchlib.pass_times_s(raw, "warm"),
        "warmup_steady": body.get("warmup_steady"),
        "pass_s": benchlib.pass_times_s(raw),
        "pass_steal_share": [p["steal_share"] for p in raw["body"].get("passes", [])
                             if p["phase"] == "timed"],
        "traced_pass_s": benchlib.pass_times_s(raw, "traced"),
        "latency_samples": len(benchlib.latencies_ms(raw)),
        "latency_tail_q": benchlib.TAIL_Q[args.workload],
        "latency_samples_beyond_tail": benchlib.samples_beyond(
            len(benchlib.latencies_ms(raw)), benchlib.TAIL_Q[args.workload]),
    }
    if args.workload == "push_feed":
        record["generator_valid"] = body["generator_valid"]
        record["generator_max_late_ms"] = body["generator_max_late_ms"]
    else:
        record["cache_series"] = body["cache"]
        record["execs"] = body["execs"]
    if args.trace:
        spans = raw["trace"]["spans"]
        record["span_self_times"] = benchlib.self_times(spans)
        record["stages_by_group"] = raw.get("stages") or {}
        with open(os.path.join(results, f"{tag}-spans.json"), "w") as fh:
            json.dump(raw["trace"], fh)
    with open(os.path.join(results, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for name, m in metrics.items():
        if not args.trace or m["value"]:
            log(f"{name:45s} {m['value']:14.4f} {m['unit']}")
    if not correct:
        log(f"CORRECTNESS FAILURE ({failed} of {attempted} failed): {body['errors'][:5]}")
    print(benchlib.result_line(correct, attempted, failed, metrics), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
