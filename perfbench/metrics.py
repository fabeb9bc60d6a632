"""Metrics computed from the harness JVM's raw result file."""

import statistics

# Tail percentiles tried from the highest down; one is used only when at
# least ten samples lie beyond it.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)

# The bounded metrics. The timing is the CPU time of the harness JVM's Java
# threads (driver, Spark tasks and services; not HotSpot's JIT and GC
# threads), scaled by the host's speed during the run: on a shared host the
# wall-clock time of the same work moves with other tenants' load by more
# than any bound allows, and its CPU time moves with it, by less. Wall-clock
# latencies are in the report (`wall_clock`), not in the result line.
END_TO_END = {
    "setup_s": "s", "pass_cpu_s": "s", "retained_heap_mb": "MB", "store_bytes_per_row": "bytes"}

PER_LAYER = {
    "setup.session_ms": "ms", "setup.inputs_ms": "ms", "setup.warmup_ms": "ms",
    "sources.construct_ms": "ms", "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "catalyst.aqe_replans": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.jobs_per_query": "count",
    "streaming.batches": "count", "streaming.events_per_batch_p50": "events",
    "streaming.add_batch_ms_p50": "ms", "streaming.non_add_batch_ms_p50": "ms",
    "streaming.backlog_max_events": "events", "streaming.gen_late_ms_tail": "ms",
    "upsert.merge_ms_p50": "ms", "upsert.jobs_per_merge": "count",
    "upsert.buckets_rewritten_per_merge": "count", "upsert.bytes_written_per_event": "bytes",
    "upsert.files_live": "count", "upsert.epochs_live": "count",
    "upsert.read_ms": "ms", "upsert.lookup_ms_p50": "ms", "upsert.lookup_input_bytes": "bytes",
    "validation.run_all_ms": "ms", "validation.jobs_per_table": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.peak_exec_mem_mb": "MB",
    "dedup.query_ms": "ms", "similarity.query_ms": "ms", "text.query_ms": "ms",
    "storage.persisted_rdds_end": "count", "storage.persisted_mb_end": "MB",
    "storage.persisted_mb_peak": "MB", "jvm.heap_after_gc_mb": "MB",
    "trace.overhead_pass_pct": "%",
}


def percentile(xs, p):
    """Linear-interpolated percentile, `p` in [0, 100]."""
    s = sorted(xs)
    if not s:
        return 0.0
    pos = (len(s) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest candidate percentile with at least ten of `n` samples
    beyond it, or None when there is none."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) >= 1000.0 - 1e-9:
            return p
    return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _m(value, unit, samples, note=""):
    return {"value": float(value), "unit": unit, "samples": int(samples), "note": note}


def _ops(passes, kinds=None):
    return [op for p in passes for op in p["ops"] if kinds is None or op["kind"] in kinds]


def _setup(r):
    setup_ms = r["gen_ms"] + r["session_ms"] + r["warmup_ms"] + r["inputs_ms"]
    return _m(setup_ms / 1000.0, "s", 1, "JVM + session + inputs + warm-up")


# CPU time of one host-speed probe (`Probe.scala`, on 4 threads) on the
# 4-vCPU host the benchmark was written on: pass CPU times are scaled to a
# host where the probe takes this long.
PROBE_REF_MS = 300.0


def host_speed(passes):
    """The run's median probe CPU time over the reference one: above 1 on a
    host (or at a time) slower than the reference."""
    probes = [x for p in passes for x in p.get("probe_cpu_ms", [])]
    return median(probes) / PROBE_REF_MS if probes else 1.0


def end_to_end(workload, r):
    """The bounded metrics of an untraced run."""
    passes = r.get("passes", [])
    slow = host_speed(passes)
    pass_cpu = [p["cpu_ms"] / slow for p in passes]
    note = (f"catch-up of {r['events_per_pass']} events" if workload == "cdc_stream"
            else "sweep") + f", CPU of the JVM's Java threads / host speed {slow:.3f}"
    store = ("upsert store after the stream" if workload == "cdc_stream"
             else "seeded upsert stores")
    return {"setup_s": _setup(r),
            "pass_cpu_s": _m(median(pass_cpu) / 1000.0, "s", len(pass_cpu), note),
            "retained_heap_mb": _m(r["heap_end_mb"], "MB", 1, "heap in use after full GCs at the end"),
            "store_bytes_per_row": _m(r["store_bytes"] / max(1, r["live_rows"]), "bytes", 1,
                                      f"{store}: bytes on disk per live row")}


def op_cpu_medians(passes):
    """Median CPU time per operation key over the run's passes."""
    by_key = {}
    for op in _ops(passes):
        by_key.setdefault(op["key"], []).append(op["cpu_ms"])
    return {k: round(median(v), 3) for k, v in by_key.items()}


def wall_clock(workload, r):
    """Wall-clock latency of an untraced run, for the report: a median, a
    tail and a pass time."""
    passes = r.get("passes", [])
    out = {}
    if workload == "cdc_stream":
        lags = r["phase1"]["lags_ms"]
        p = tail_percentile(len(lags))
        out["p50_ms"] = _m(median(lags), "ms", len(lags), "event due -> batch commit, phase 1")
        out["tail_ms"] = _m(percentile(lags, p) if p else max(lags), "ms", len(lags),
                            f"p{p:g} event lag" if p else "max event lag")
        times = [op["ms"] for op in _ops(passes)]
        eps = r["events_per_pass"]
        out["pass_s"] = _m(median(times) / 1000.0, "s", len(times),
                           f"catch-up of {eps} events ({eps / (median(times) / 1000.0):.0f} events/s)")
    else:
        times = [op["ms"] for op in _ops(passes)]
        per_pass = len(passes[0]["ops"]) if passes else 0
        p = tail_percentile(per_pass * len(passes))
        out["p50_ms"] = _m(median(times), "ms", len(times), "sweep operation latency")
        if p:
            out["tail_ms"] = _m(percentile(times, p), "ms", len(times), f"p{p:g} sweep operation latency")
        else:
            maxima = [max(op["ms"] for op in q["ops"]) for q in passes]
            out["tail_ms"] = _m(median(maxima), "ms", len(maxima),
                                "median of per-pass slowest operation (too few samples for a percentile)")
        out["pass_s"] = _m(median([q["ms"] for q in passes]) / 1000.0, "s", len(passes), "sweep")
    return out


def per_layer(workload, r, conf):
    """Per-layer metrics of a traced run. Pass-level values are medians over
    traced passes; for cdc_stream, scheduler and executor values are
    medians over traced micro-batches."""
    passes = r.get("passes", [])
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    v = {k: 0.0 for k in PER_LAYER}
    v["setup.session_ms"] = r["session_ms"]
    v["setup.inputs_ms"] = r["gen_ms"] + r["inputs_ms"]
    v["setup.warmup_ms"] = r["warmup_ms"]

    def per_pass(fn):
        return median([fn(p) for p in traced])

    queries = lambda p: [op for op in p["ops"] if op["kind"] not in ("run_all", "lookup", "catchup")]
    v["sources.construct_ms"] = per_pass(lambda p: sum(op["construct_ms"] for op in queries(p)))
    for phase in ("analysis", "optimization", "planning"):
        v[f"catalyst.{phase}_ms"] = per_pass(
            lambda p: sum(op["phases"].get(phase, 0.0) for op in queries(p)))

    exec_fields = {"exec.task_run_ms": "task_run_ms", "exec.task_cpu_ms": "task_cpu_ms",
                   "exec.gc_ms": "gc_ms", "exec.input_bytes": "input_bytes",
                   "exec.shuffle_read_bytes": "shuffle_read_bytes",
                   "exec.shuffle_write_bytes": "shuffle_write_bytes",
                   "exec.spill_bytes": "spill_bytes"}
    sched = {"scheduler.jobs": "jobs", "scheduler.stages": "stages", "scheduler.tasks": "tasks",
             "catalyst.aqe_replans": "aqe_replans"}
    if workload == "cdc_stream":
        batches = r["batches"]
        tb = [b for b in batches if b["counts"]["jobs"] > 0]
        for k, f in {**exec_fields, **sched}.items():
            v[k] = median([b["counts"][f] for b in tb])
        v["exec.peak_exec_mem_mb"] = max([b["counts"]["peak_exec_mem"] for b in tb] or [0]) / 1048576.0
        v["scheduler.jobs_per_query"] = v["upsert.jobs_per_merge"] = v["scheduler.jobs"]
        first_p1, last_p1 = r["phase1"]["first_batch"], r["phase1"]["last_batch"]
        p1 = [b for b in batches if first_p1 <= b["batch_id"] <= last_p1]
        p2 = [b for b in batches if b["batch_id"] > last_p1]
        v["streaming.batches"] = len(p1) + len(p2)
        v["streaming.events_per_batch_p50"] = median([b["events"] for b in p1])
        v["streaming.add_batch_ms_p50"] = median([b["durations"].get("addBatch", 0) for b in p1])
        v["streaming.non_add_batch_ms_p50"] = median(
            [b["durations"].get("triggerExecution", 0) - b["durations"].get("addBatch", 0)
             for b in p1 + p2])
        v["streaming.backlog_max_events"] = max(r["phase1"]["backlog_events"] or [0])
        late = r["phase1"]["gen_late_ms"]
        p = tail_percentile(len(late))
        v["streaming.gen_late_ms_tail"] = percentile(late, p) if p else max(late or [0])
        v["upsert.merge_ms_p50"] = median([b["durations"].get("addBatch", 0) for b in p2])
        v["upsert.buckets_rewritten_per_merge"] = median(
            [b["buckets_rewritten"] for b in batches if b["buckets_rewritten"] >= 0])
        events = sum(b["events"] for b in tb)
        written = sum(b["counts"]["output_bytes"] for b in tb)
        v["upsert.bytes_written_per_event"] = written / events if events else 0.0
        v["upsert.files_live"] = r["files_live"]
        v["upsert.epochs_live"] = r["epochs_live"]
    else:
        for k, f in {**exec_fields, **sched}.items():
            v[k] = per_pass(lambda p: p["counts"][f])
        v["exec.peak_exec_mem_mb"] = per_pass(lambda p: p["counts"]["peak_exec_mem"]) / 1048576.0
        v["scheduler.jobs_per_query"] = per_pass(lambda p: p["counts"]["jobs"] / len(p["ops"]))
    if workload == "validate":
        run_all = _ops(passes, ("run_all",))
        lookups = _ops(passes, ("lookup",))
        v["upsert.read_ms"] = median([op["construct_ms"] for op in run_all])
        v["validation.run_all_ms"] = median([op["ms"] for op in run_all])
        n_tables = len(conf["stores"])
        v["validation.jobs_per_table"] = median(
            [op["counts"]["jobs"] / n_tables for op in _ops(traced, ("run_all",))])
        v["upsert.lookup_ms_p50"] = median([op["ms"] for op in lookups])
        v["upsert.lookup_input_bytes"] = median(
            [op["counts"]["input_bytes"] for op in _ops(traced, ("lookup",))])
        for fam in ("dedup", "similarity", "text"):
            v[f"{fam}.query_ms"] = median(
                [sum(op["ms"] for op in p["ops"] if op["kind"] == fam) for p in passes])
    storage = [p["storage"] for p in traced if "storage" in p]
    v["storage.persisted_rdds_end"] = r["storage_end"]["persisted_rdds"]
    v["storage.persisted_mb_end"] = r["storage_end"]["persisted_mb"]
    v["storage.persisted_mb_peak"] = max([s["persisted_mb"] for s in storage] or [0.0])
    v["jvm.heap_after_gc_mb"] = per_pass(lambda p: p.get("heap_after_gc_mb", 0.0))

    def pass_ms(ps):
        return median([p["ops"][0]["ms"] if workload == "cdc_stream" else p["ms"] for p in ps])
    if traced and untraced:
        base = pass_ms(untraced)
        v["trace.overhead_pass_pct"] = (pass_ms(traced) - base) * 100.0 / base if base else 0.0
    return {k: _m(v[k], PER_LAYER[k], len(traced)) for k in PER_LAYER}


def op_medians(passes):
    """Median time per operation key over the run's passes."""
    by_key = {}
    for op in _ops(passes):
        by_key.setdefault(op["key"], []).append(op["ms"])
    return {k: round(median(v), 3) for k, v in by_key.items()}


def self_times(spans):
    """Total self time per span name: a span's duration minus the part of its
    interval covered by its child spans."""
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
        own = (s["end_ns"] - s["start_ns"] - covered) / 1e6
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return {k: round(v, 3) for k, v in sorted(out.items())}


def print_report(report, log):
    p = report["provenance"]
    log(f"[perfbench] {report['workload']} seed={p['seed']} head={p['git_head']} "
        f"nproc={p['nproc']} jvm={p['jvm']} host_steal_pct={p['host_steal_pct']}")
    for name, m in report["end_to_end"].items():
        log(f"  {name:<18} {m['value']:>12.4f} {m['unit']:<6} n={m['samples']:<6} {m['note']}")
    for name, m in report["wall_clock"].items():
        log(f"  wall {name:<13} {m['value']:>12.4f} {m['unit']:<6} n={m['samples']:<6} {m['note']}")
    a, f = report["attempted"], report["failed"]
    log(f"  {'failed_frac':<18} {f / a if a else 1.0:>12.4f} ratio  ({f} of {a} operations)")
    for name, m in report["per_layer"].items():
        log(f"  {name:<36} {m['value']:>14.3f} {m['unit']}")
    for w in report["warmup_errors"]:
        log(f"  warm-up error: {w}")
    for msg in report["problems"]:
        log(f"  PROBLEM: {msg}")
