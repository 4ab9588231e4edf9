#!/usr/bin/env python3
"""The benchmark's single command.

    python3 perfbench/run.py --workload {ingest,mix} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It builds the engine and the benchmark's JVM program
from source (build.py), starts from fresh on-disk state, runs one JVM with a
local[1] Spark session and a fixed 4 GiB heap, checks the engine's outputs
against DuckDB, and prints one JSON object as the last line of stdout:
every end-to-end metric with --trace 0, every per-layer metric with
--trace 1. README.md describes the workloads, metrics and checks.
"""
import argparse
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
from datetime import datetime
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import checks  # noqa: E402

# Read-only fixture tables (seed 42), one directory per scale factor.
TESTDATA = Path("/root/testdata")
FIXTURES = {"ingest": TESTDATA / "sf0.1", "mix": TESTDATA / "sf0.01"}
CPUS = 1
# The JVM is bound to two of the CPUs this process may use: one for the
# task thread, one for the compiler and collector threads. On a shared
# virtual machine, more busy vCPUs get more of their time stolen by the
# hypervisor, and the stolen share changes from minute to minute (README).
JVM_CPUS = set(sorted(os.sched_getaffinity(0))[:2])
SETUP_REPS = 3
JVM_TIMEOUT_S = 150

# The ingest log holds the events with event_id below INGEST_EVENTS; the
# seed picks MALFORMED_SHARE of them to carry malformed payloads.
INGEST_EVENTS = 10_000
MALFORMED_SHARE = 0.01

# The closed-loop query mix: at least one query of every operator module
# the benchmark is about, the real-time OLAP ones (parquet scans, planning,
# small shuffles) first, then the ones that build and reuse artifacts.
MIX = [
    "q_hll_sketch", "q_approx_percentile",  # Relational
    "q_startree_slice",  # StarTree
    "q_source_compacted",  # SourceQueries
    "q_dedup_minhash_sig",  # Dedup
    "q_sim_ivf_build",  # IvfSimilarity
    "q_graph_degrees",  # Graph
]

# Warm rounds (drains or passes) per run follow from --seconds and the
# nominal length of one round on the reference host, so that both sides of
# a comparison do exactly the same work.
ROUND_S = {"ingest": 3.3, "mix": 3.3}
# Untimed warm rounds between the cold round and the timed ones: the JIT is
# still compiling after the cold round.
WARMUP = {"ingest": 3, "mix": 1}

# Every per-layer metric, with its unit; a layer a workload does not touch
# reads 0 there.
PER_LAYER = {
    "sources.latest_offset_ms": "ms", "sources.add_batch_ms": "ms", "sources.batches": "count",
    "sources.rows_dropped": "count", "sources.scan_ms": "ms",
    "streaming.checkpoint_ms": "ms", "streaming.planning_ms": "ms",
    "streaming.trigger_sum_gap": "ratio", "sinks.bytes_written": "B",
    "operators.build_ms": "ms", "operators.plan_ms": "ms", "operators.exec_ms": "ms",
    "operators.layer_sum_gap": "ratio", "operators.cold_pass_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.single_task_stages": "count", "exec.shuffle_bytes": "B", "exec.input_bytes": "B",
    "exec.max_task_share": "ratio",
    "artifacts.cold_jobs": "count", "artifacts.pinned_rdds": "count", "artifacts.pinned_bytes": "B",
    "artifacts.warm_growth_bytes": "B",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB", "trace.throughput_per_s": "1/s",
    "host.steal_share": "ratio",
}
MODULES = ["Relational", "StarTree", "SourceQueries", "Dedup", "IvfSimilarity", "Graph"]
for _m in MODULES:
    PER_LAYER[f"operators.{_m}.warm_s"] = "s"
    PER_LAYER[f"operators.{_m}.cold_s"] = "s"

TRIGGER_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
LAYER_SUM_TOLERANCE = 0.05


class ChecksFailed(Exception):
    def __init__(self, errors):
        super().__init__("; ".join(errors[:10]))
        self.errors = errors


def metric(value, unit):
    return {"value": value, "unit": unit}


def malformed_ids(seed):
    """The ingest events whose payloads the seed makes malformed."""
    rng = random.Random(seed)
    return sorted(rng.sample(range(INGEST_EVENTS), int(INGEST_EVENTS * MALFORMED_SHARE)))


def cpu_times():
    """The machine's CPU time counters (/proc/stat's first line)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before, after):
    """Share of the machine's CPU time that the hypervisor gave to other
    guests between two readings (the `steal` column)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def remove_engine_caches(sf_dir):
    """The event log and star-tree cube the engine keeps under /tmp, keyed
    by the fixture path (`SourceQueries.logDirFor`, `StarTree.cubeDirFor`).
    The JVM removes them too; this covers a JVM that did not end."""
    key = re.sub(r"[^A-Za-z0-9.]", "_", str(sf_dir))
    for d in [Path(f"/tmp/graft-eventlog-{key}"), *Path("/tmp").glob(f"graft-startree-{key}-*")]:
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(classpath, archive, work, sf_dir, args):
    cmd = build.java_command(classpath, work, archive=archive) + [
        "--work-dir", str(work), "--sf-dir", str(sf_dir), "--cpus", str(CPUS),
        "--setup-reps", str(SETUP_REPS),
    ] + args
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                preexec_fn=lambda: os.sched_setaffinity(0, JVM_CPUS))
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s; see {work / 'jvm.log'}")
        finally:
            # on a timeout, an error or a signal the JVM does not outlive us
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-3000:])
        raise SystemExit(f"benchmark JVM failed with code {rc}")
    return json.loads((work / "raw.json").read_text())


def setup_s(raw):
    """JVM start to a ready session, plus the median of the repeated
    workload set-up (fresh state, materialization, warm-up)."""
    return raw["session_start_s"] + statistics.median(raw["setup_reps_s"])


def end_to_end(raw, throughput, latency_ms):
    return {
        "setup_s": metric(setup_s(raw), "s"),
        "throughput_per_s": metric(throughput, "1/s"),
        "latency_ms": metric(latency_ms, "ms"),
    }


# --------------------------------------------------------------------------
# closed-loop query mixes


def query_metrics(raw, trace):
    """Each query's warm time is its best over the warm passes; throughput
    is queries per second of the summed best times, latency their
    geometric mean."""
    queries = raw["queries"]
    best = [min(p[q] for p in raw["warm_s"]) for q in queries]
    throughput = len(best) / sum(best)
    attempted = len(queries) * (1 + raw["warmup"] + len(raw["warm_s"]))
    if not trace:
        latency_ms = 1000 * math.exp(statistics.mean(math.log(b) for b in best))
        return end_to_end(raw, throughput, latency_ms), attempted
    layers = query_layers(raw)
    layers["trace.throughput_per_s"] = throughput
    return layers, attempted


def query_layers(raw):
    """Per-layer metrics of a traced mix, per warm pass (the mean over the
    warm passes); cold figures are those of the cold pass."""
    queries = raw["queries"]
    warm = raw["warm_s"]
    passes = range(1, len(warm) + 1)
    counts = raw["layers"]["counts"]
    spans = {}
    for s in raw["spans"]:
        spans.setdefault(s["id"], {})[s["name"]] = s["end_ms"] - s["start_ms"]
    gap = 0.0
    for q in queries:
        for p in passes:
            d = spans[f"{q}#{p}"]
            parts = d["operators.build"] + d["operators.plan"] + d["operators.exec"]
            gap = max(gap, abs(d["query"] - parts) / d["query"])
    if gap > LAYER_SUM_TOLERANCE:
        raise ChecksFailed([f"build + plan + exec off a query's wall time by {gap:.1%}"])

    def per_pass_span(name):
        return sum(spans[f"{q}#{p}"][name] for q in queries for p in passes) / len(warm)

    def per_pass_count(key):
        return sum(counts[f"{q}#{p}"][key] for q in queries for p in passes) / len(warm)

    shares = [s for q in queries for p in passes for s in counts[f"{q}#{p}"]["max_task_shares"]]
    module = raw["module"]
    m = {
        "operators.build_ms": per_pass_span("operators.build"),
        "operators.plan_ms": per_pass_span("operators.plan"),
        "operators.exec_ms": per_pass_span("operators.exec"),
        "operators.layer_sum_gap": gap,
        "sources.scan_ms": sum(p[q] for p in warm for q in queries if module[q] == "SourceQueries")
        * 1000 / len(warm),
        "exec.jobs": per_pass_count("jobs"),
        "exec.stages": per_pass_count("stages"),
        "exec.tasks": per_pass_count("tasks"),
        "exec.single_task_stages": per_pass_count("single_task_stages"),
        "exec.shuffle_bytes": per_pass_count("shuffle_bytes"),
        "exec.input_bytes": per_pass_count("input_bytes"),
        "exec.max_task_share": statistics.median(shares) if shares else 0.0,
        "operators.cold_pass_s": sum(raw["cold_s"].values()),
        "artifacts.cold_jobs": sum(counts[f"{q}#0"]["jobs"] for q in queries),
        "artifacts.pinned_rdds": raw["pinned_rdds"],
        "artifacts.pinned_bytes": raw["pinned_bytes"],
        "artifacts.warm_growth_bytes": statistics.mean(raw["warm_growth_bytes"]),
    }
    for q in queries:
        warm_key, cold_key = f"operators.{module[q]}.warm_s", f"operators.{module[q]}.cold_s"
        m[warm_key] = m.get(warm_key, 0.0) + sum(p[q] for p in warm) / len(warm)
        m[cold_key] = m.get(cold_key, 0.0) + raw["cold_s"][q]
    return m


def check_query_outputs(raw, work, sf_dir):
    return checks.check_query_results(work / "results", raw["queries"], raw["oracle_sql"], sf_dir)


# --------------------------------------------------------------------------
# ingest


def trigger_spans(raw):
    """Spans of every micro-batch, from its progress report: a `trigger`
    span and, inside it, one span per reported phase in execution order.
    All spans of one trigger share its id."""
    origin = raw["trace_origin_epoch_ms"]
    spans = []
    for t in raw["triggers"]:
        tid = f"drain-{t['drain']}/batch-{t['batch_id']}"
        start = datetime.fromisoformat(t["timestamp"].replace("Z", "+00:00")).timestamp() * 1000 - origin
        d = t["duration_ms"]
        spans.append({"id": tid, "name": "trigger", "parent": "", "start_ms": start,
                      "end_ms": start + d["triggerExecution"]})
        at = start
        for k in TRIGGER_PARTS:
            if k in d:
                spans.append({"id": tid, "name": k, "parent": "trigger", "start_ms": at, "end_ms": at + d[k]})
                at += d[k]
    return spans


def ingest_metrics(raw, trace):
    # every trigger with rows in it, but those of the cold drain
    warm = [t for t in raw["triggers"] if t["drain"] >= 1 and t["rows"] > 0]
    attempted = sum(1 for t in raw["triggers"] if t["rows"] > 0)
    # a trigger's input rows are the decoded rows: malformed payloads are
    # dropped in the scan and never counted
    landed = sum(t["rows"] for t in warm)
    if not trace:
        # every warm drain lands the same events: throughput is one drain's
        # events over the median drain time
        throughput = landed / len(raw["drains_s"]) / statistics.median(raw["drains_s"])
        latency_ms = statistics.median(t["duration_ms"]["triggerExecution"] for t in warm)
        return end_to_end(raw, throughput, latency_ms), attempted
    warm_ids = {f"drain-{t['drain']}/batch-{t['batch_id']}" for t in warm}
    spans = {}
    for s in trigger_spans(raw):
        if s["id"] in warm_ids:
            spans.setdefault(s["id"], {})[s["name"]] = s["end_ms"] - s["start_ms"]

    def phases(d):
        return sum(v for k, v in d.items() if k != "trigger")

    # The rule holds per drain. A single trigger can leave a few percent
    # outside the reported phases when a GC pause or stolen CPU time falls
    # into Spark's unreported bookkeeping; the largest such gap is reported.
    gap = max(abs(d["trigger"] - phases(d)) / d["trigger"] for d in spans.values())
    drains = len(raw["drains_s"])
    for n in range(1, drains + 1):
        ds = [d for i, d in spans.items() if i.startswith(f"drain-{n}/")]
        total = sum(d["trigger"] for d in ds)
        if abs(total - sum(phases(d) for d in ds)) / total > LAYER_SUM_TOLERANCE:
            raise ChecksFailed([f"drain {n}: progress durations off triggerExecution by more than 5%"])

    def per_drain(name):
        return sum(d.get(name, 0) for d in spans.values()) / drains

    per_drain_counts = [raw["layers"]["drains"][str(n)] for n in range(1, drains + 1)]

    def count(key):
        return sum(c[key] for c in per_drain_counts) / drains

    shares = [s for c in per_drain_counts for s in c["max_task_shares"]]
    m = {
        "operators.cold_pass_s": raw["cold_s"],
        "sources.latest_offset_ms": per_drain("latestOffset"),
        "sources.add_batch_ms": per_drain("addBatch"),
        "sources.batches": len(warm) / drains,
        "sources.rows_dropped": count("dropped_messages"),
        "streaming.checkpoint_ms": per_drain("walCommit") + per_drain("commitOffsets"),
        "streaming.planning_ms": per_drain("queryPlanning"),
        "streaming.trigger_sum_gap": gap,
        "sinks.bytes_written": raw["bytes_written"],
        "exec.jobs": count("jobs"),
        "exec.stages": count("stages"),
        "exec.tasks": count("tasks"),
        "exec.single_task_stages": count("single_task_stages"),
        "exec.shuffle_bytes": count("shuffle_bytes"),
        "exec.input_bytes": count("input_bytes"),
        "exec.max_task_share": statistics.median(shares) if shares else 0.0,
        "trace.throughput_per_s": landed / sum(raw["drains_s"]),
    }
    return m, attempted


def check_ingest_outputs(raw, work, sf_dir, injected, trace):
    errors = []
    con = checks.duckdb_over(sf_dir)
    last = checks.log_last_offsets(work / "ingest" / "log")
    for n in range(-raw["warmup_drains"], len(raw["drains_s"]) + 1):
        landed = checks.read_parquet_dir(work / "ingest" / f"out-{n}")
        found = checks.check_landing(landed, range(INGEST_EVENTS), injected)
        found += checks.check_type_totals(landed, con, INGEST_EVENTS, injected)
        found += checks.check_offsets(checks.committed_offsets(work / "ingest" / f"ckpt-{n}"), last)
        if trace:
            dropped = raw["layers"]["drains"][str(n)]["dropped_messages"]
            found += checks.check_dropped(dropped, len(injected))
        errors += [f"drain {n}: {e}" for e in found]
    return errors


# --------------------------------------------------------------------------


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # engine's /tmp caches removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath, archive = build.build()
    fixtures = FIXTURES[a.workload]
    if not fixtures.is_dir():
        raise SystemExit(f"fixture directory {fixtures} not found")

    work = Path.cwd() / ".bench_work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # a private copy of the fixtures: the engine keys its /tmp caches by
    # this path, so they cannot collide with another checkout's; the JVM
    # removes them before each set-up and at its end
    sf_dir = work / "sf"
    shutil.copytree(fixtures, sf_dir)

    rounds = max(2, round(a.seconds / ROUND_S[a.workload]))
    args = ["--workload", a.workload, "--rounds", str(rounds), "--warmup", str(WARMUP[a.workload]),
            "--trace", str(a.trace), "--seed", str(a.seed)]
    if a.workload == "ingest":
        injected = malformed_ids(a.seed)
        (work / "inject.txt").write_text(",".join(map(str, injected)))
        args += ["--inject", str(work / "inject.txt"), "--events", str(INGEST_EVENTS)]
    else:
        # the seed orders the warm passes (see BenchMain)
        args += ["--mix", ",".join(MIX)]
    try:
        cpu_before = cpu_times()
        try:
            raw = run_jvm(classpath, archive, work, sf_dir, args)
        finally:
            remove_engine_caches(sf_dir)
        cpu_after = cpu_times()
        if a.workload == "ingest":
            metrics, attempted = ingest_metrics(raw, a.trace)
            errors = check_ingest_outputs(raw, work, sf_dir, injected, a.trace)
        else:
            metrics, attempted = query_metrics(raw, a.trace)
            errors = check_query_outputs(raw, work, sf_dir)
        if a.trace:
            metrics["jvm.gc_ms"] = raw["jvm"]["gc_ms"]
            metrics["jvm.heap_peak_mb"] = raw["jvm"]["heap_peak_mb"]
            metrics["host.steal_share"] = steal_share(cpu_before, cpu_after)
            metrics = {k: metric(metrics.get(k, 0), unit) for k, unit in PER_LAYER.items()}
            spans = raw["spans"] + (trigger_spans(raw) if a.workload == "ingest" else [])
            (work / "trace.json").write_text(json.dumps(spans))
    except ChecksFailed as e:
        errors, metrics, attempted = e.errors, {}, 1
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": 0, "metrics": metrics}))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
