"""Turns the harness's raw measurements into the benchmark's metrics.

Pure functions over the JSON the Scala harness writes; no Spark, no I/O.
The metric names here must match BENCHMARK.json (the tests check that).
"""
import statistics
from datetime import datetime

END_TO_END = ["setup_s", "cold_pass_cpu_s", "warm_pass_cpu_s", "gate_cpu_p50_s",
              "gate_cpu_p90_s"]

PER_LAYER = [
    "engine.session_s", "engine.cold_setup_s",
    "sparkentry.build_s", "sparkentry.build_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.plan_wall_s", "catalyst.exchanges", "catalyst.scans",
    "catalyst.bnl_joins",
    "codegen.gen_s", "codegen.compile_s", "codegen.compilations",
    "codegen.cold_gen_s", "codegen.cold_compile_s", "codegen.cold_compilations",
    "codegen.non_wscg_ops",
    "functions.interpreted_hof", "functions.codegen_fallback",
    "scan.bytes_read", "scan.records_read",
    "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
    "exchange.shuffle_records", "exchange.write_s", "exchange.fetch_wait_s",
    "executor.jobs", "executor.stages", "executor.tasks", "executor.run_s",
    "executor.cpu_s", "executor.gc_s", "executor.deserialize_s",
    "executor.sched_delay_s", "executor.spill_bytes", "executor.failed_tasks",
    "executor.peak_exec_mem_mb", "executor.exec_wall_s", "executor.busy_ratio",
    "streaming.queries", "streaming.batches", "streaming.empty_batches",
    "streaming.input_rows", "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.query_planning_s", "streaming.offset_log_s",
    "streaming.commit_log_s", "streaming.latest_offset_s",
    "streaming.get_batch_s", "streaming.state_commit_s", "streaming.state_rows",
    "streaming.state_mem_mb", "streaming.harness_s", "streaming.readback_s",
    "jvm.gc_s", "jvm.jit_s", "jvm.peak_heap_mb", "box.canary_s",
    "trace.overhead_s", "trace.gate_self_s",
]

MB = 1024 * 1024


def unit_of(name):
    """Unit of a metric, from its name; everything else is a count."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    return "bytes" if "bytes" in name else "count"


def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between the
    closest ranks, as numpy's default method computes it."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def self_times(spans):
    """Per span kind, the summed self time in seconds: each span's
    duration minus the part of it that its children's intervals cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end, s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
            end = max(end, c["end_ns"])
        own = (s["end_ns"] - s["start_ns"] - covered) / 1e9
        out[s["kind"]] = out.get(s["kind"], 0.0) + own
    return out


def warm_passes(raw, traced):
    """The measured passes after the cold pass and the warm-up pass."""
    return [p for p in raw["passes"]
            if p["index"] > 0 and not p["warmup"] and p["traced"] == traced]


def gate_runs(raw):
    """Every gate run of every pass, cold and warm-up passes included."""
    return [s for p in raw["passes"] for s in p["samples"]]


def failures(raw, verified_rows):
    """Gate runs that threw, or whose row count differs from the count
    the oracle check verified (a gate the oracle did not pass has none)."""
    bad = []
    for p in raw["passes"]:
        for s in p["samples"]:
            if "error" in s:
                bad.append((p["index"], s["gate"], "error: " + s["error"]))
            elif verified_rows.get(s["gate"]) != s["rows"]:
                bad.append((p["index"], s["gate"],
                            "rows %s, verified %s" % (s["rows"], verified_rows.get(s["gate"]))))
    return bad


def warm_setups(raw):
    """The set-ups after the first, cold one in the JVM."""
    return raw["setup"][1:]


def end_to_end(raw):
    """The untraced passes' metrics. The bounded ones (END_TO_END) are the
    process's CPU seconds, all threads: the kernel leaves out the time the
    host steals from a virtual machine, which made wall times on a shared
    host differ by up to 2.5x from run to run. The wall-clock latencies
    come beside them, as wall_*."""
    warm = warm_passes(raw, traced=False)
    cold = raw["passes"][0]
    setups = warm_setups(raw)
    cpu = [s["cpu_s"] for p in warm for s in p["samples"]]
    wall = [s["wall_s"] for p in warm for s in p["samples"]]
    return {
        "setup_s": statistics.median(s["cpu_s"] for s in setups),
        "cold_pass_cpu_s": cold["cpu_s"],
        "warm_pass_cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "gate_cpu_p50_s": percentile(cpu, 50),
        "gate_cpu_p90_s": percentile(cpu, 90),
        "wall_setup_s": statistics.median(s["setup_s"] for s in setups),
        "wall_cold_pass_s": cold["wall_s"],
        "wall_warm_pass_s": statistics.median(p["wall_s"] for p in warm),
        "wall_gate_p50_s": percentile(wall, 50),
        "wall_gate_p90_s": percentile(wall, 90),
    }


def _epoch_ms(iso):
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def per_layer(raw):
    """Per-layer metrics of a traced run."""
    traced = warm_passes(raw, traced=True)
    untraced = warm_passes(raw, traced=False)
    listener = raw["listener"]
    census = raw["census"]
    cold = raw["passes"][0]["counters"]
    cores = raw["env"]["nproc"]

    def spans_of(p, phase=None):
        prefix = "p%d/" % p["index"]
        return [v for k, v in listener.items()
                if k.startswith(prefix) and (phase is None or k.endswith("/" + phase))]

    def total(p, key, phase=None):
        return sum(v.get(key, 0) for v in spans_of(p, phase))

    def samples(p):
        return [s for s in p["samples"] if "error" not in s]

    # streaming events, attributed to the traced gate span whose wall-clock
    # interval holds the query start or the micro-batch's trigger time
    gate_spans = [s for s in raw["spans"] if s["kind"] == "gate"]
    pass_of_span = {s["id"]: s["name"] for s in raw["spans"] if s["kind"] == "pass"}
    by_pass = {}
    started = {}
    for e in raw["stream_events"]:
        t = _epoch_ms(e["timestamp"])
        for g in gate_spans:
            if g["start_ms"] <= t <= g["end_ms"]:
                pass_name = pass_of_span[g["parent"]]
                if e["kind"] == "started":
                    started.setdefault(pass_name, []).append(e)
                else:
                    by_pass.setdefault(pass_name, []).append((g["name"], e))
                break

    def stream(p):
        name = "pass%d" % p["index"]
        events = by_pass.get(name, [])
        stream_gates = {g for g, _ in events}
        last = {}
        for _, e in sorted(events, key=lambda ke: ke[1]["batch_id"]):
            last[e["run_id"]] = e
        dur = lambda k: sum(e["duration_ms"].get(k, 0) for _, e in events) / 1000.0
        trig = dur("triggerExecution")
        gs = [s for s in samples(p) if s["gate"] in stream_gates]
        return {
            "streaming.queries": len(started.get(name, [])),
            "streaming.batches": len(events),
            "streaming.empty_batches": sum(1 for _, e in events if e["input_rows"] == 0),
            "streaming.input_rows": sum(e["input_rows"] for _, e in events),
            "streaming.trigger_s": trig,
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.offset_log_s": dur("walCommit"),
            "streaming.commit_log_s": dur("commitOffsets"),
            "streaming.latest_offset_s": dur("latestOffset"),
            "streaming.get_batch_s": dur("getBatch"),
            "streaming.state_commit_s": sum(e["state_commit_ms"] for _, e in events) / 1000.0,
            "streaming.state_rows": sum(e["state_rows"] for e in last.values()),
            "streaming.state_mem_mb": sum(e["state_mem_bytes"] for e in last.values()) / MB,
            "streaming.harness_s": sum(s["build_s"] for s in gs) - trig,
            "streaming.readback_s": sum(s["exec_s"] for s in gs),
        }

    def layer(p):
        exec_wall = sum(s["exec_s"] for s in samples(p))
        m = {
            "sparkentry.build_s": sum(s["build_s"] for s in samples(p)),
            "sparkentry.build_jobs": total(p, "jobs", "build"),
            "catalyst.analysis_s": sum(s["analysis_ms"] for s in samples(p)) / 1000.0,
            "catalyst.optimization_s": sum(s["optimization_ms"] for s in samples(p)) / 1000.0,
            "catalyst.planning_s": sum(s["planning_ms"] for s in samples(p)) / 1000.0,
            "catalyst.plan_wall_s": sum(s["plan_s"] for s in samples(p)),
            "codegen.gen_s": p["counters"]["codegen_gen_ns"] / 1e9,
            "codegen.compile_s": p["counters"]["codegen_compile_ns"] / 1e9,
            "codegen.compilations": p["counters"]["codegen_compilations"],
            "scan.bytes_read": total(p, "input_bytes"),
            "scan.records_read": total(p, "input_records"),
            "exchange.shuffle_write_bytes": total(p, "shuffle_write_bytes"),
            "exchange.shuffle_read_bytes": total(p, "shuffle_read_bytes"),
            "exchange.shuffle_records": total(p, "shuffle_write_records"),
            "exchange.write_s": total(p, "shuffle_write_ns") / 1e9,
            "exchange.fetch_wait_s": total(p, "fetch_wait_ms") / 1000.0,
            "executor.jobs": total(p, "jobs"),
            "executor.stages": total(p, "stages"),
            "executor.tasks": total(p, "tasks"),
            "executor.run_s": total(p, "run_ms") / 1000.0,
            "executor.cpu_s": total(p, "cpu_ns") / 1e9,
            "executor.gc_s": total(p, "gc_ms") / 1000.0,
            "executor.deserialize_s": total(p, "deserialize_ms") / 1000.0,
            "executor.sched_delay_s": total(p, "sched_delay_ms") / 1000.0,
            "executor.spill_bytes": total(p, "spill_bytes"),
            "executor.failed_tasks": total(p, "failed_tasks"),
            "executor.peak_exec_mem_mb": max(
                [v.get("peak_exec_mem_bytes", 0) for v in spans_of(p)] or [0]) / MB,
            "executor.exec_wall_s": exec_wall,
            # task time of the execute phase over the cores it had
            "executor.busy_ratio": (total(p, "run_ms", "execute") / 1000.0 /
                                    (exec_wall * cores)) if exec_wall else 0.0,
        }
        m.update(stream(p))
        return m

    per_pass = [layer(p) for p in traced]
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}

    cen = lambda key: sum(c.get(key, 0) for c in census.values())
    out.update({
        "engine.session_s": statistics.median(s["session_s"] for s in warm_setups(raw)),
        "engine.cold_setup_s": raw["setup"][0]["setup_s"],
        "catalyst.exchanges": cen("exchanges"),
        "catalyst.scans": cen("scans"),
        "catalyst.bnl_joins": cen("bnl_joins"),
        "codegen.non_wscg_ops": cen("non_wscg_ops"),
        "codegen.cold_gen_s": cold["codegen_gen_ns"] / 1e9,
        "codegen.cold_compile_s": cold["codegen_compile_ns"] / 1e9,
        "codegen.cold_compilations": cold["codegen_compilations"],
        "functions.interpreted_hof": cen("interpreted_hof"),
        "functions.codegen_fallback": cen("codegen_fallback"),
        "jvm.gc_s": cold["gc_ms"] / 1000.0,
        "jvm.jit_s": cold["jit_ms"] / 1000.0,
        "jvm.peak_heap_mb": raw["peak_heap_bytes"] / MB,
        "box.canary_s": statistics.median(raw["canary_s"]),
        "trace.overhead_s": (statistics.median(p["wall_s"] for p in traced) -
                             statistics.median(p["wall_s"] for p in untraced)),
        "trace.gate_self_s": self_times(raw["spans"]).get("gate", 0.0) / len(traced),
    })
    return out


def result(metrics, names, correct, attempted, failed):
    """The benchmark's last output line, as a dict."""
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": unit_of(n)} for n in names},
    }
