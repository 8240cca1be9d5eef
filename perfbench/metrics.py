"""Turns one run's raw records (result.json, spans.json) into metrics.

Pure functions only, so the self-tests in tests/ can drive them.
"""
import statistics

# Percentile rule for op_tail_s: the highest percentile with at least
# this many samples beyond it.
TAIL_BEYOND = 10

# Every per-layer metric a traced run reports, in BENCHMARK.json order.
PER_LAYER = [
    "catalyst.actions", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
    "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.input_mb", "spark.spill_mb",
    "spark.task_failures", "spark.job_busy_s",
    "driver.gap_s",
    "operators.build_s", "operators.drain_s",
    "sources.gdx.merge_s", "sources.gdx.update_s", "sources.gdx.delete_s",
    "sources.gdx.optimize_s", "sources.gdx.vacuum_s", "sources.gdx.scan_s",
    "sources.gdx.commit_p50_s", "sources.gdx.files_live",
    "sources.gdx.files_on_disk", "sources.gdx.versions", "sources.gdx.table_mb",
    "sources.gdx.files_planned_frac", "sources.gdx.stored_bytes_per_user_byte",
    "sources.gdx.natural_key_merge_ok",
    "pipeline.ingest_s", "pipeline.report_s", "pipeline.forecast_s",
    "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.query_planning_ms",
    "streaming.state_rows",
    "scratch.leaked_mb",
    "fail_frac", "trace.overhead_frac", "warm.drift_frac",
]

END_TO_END = ["setup_s", "ops_per_s", "op_p50_s", "op_tail_s", "heap_retained_mb"]

UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "heap_retained_mb": "MB",
}

# Per-op time of each ETL step, reported under its layer's name.
STEP_METRICS = {
    "merge": "sources.gdx.merge_s", "update": "sources.gdx.update_s",
    "delete": "sources.gdx.delete_s", "optimize": "sources.gdx.optimize_s",
    "vacuum": "sources.gdx.vacuum_s", "time_travel": "sources.gdx.scan_s",
    "ingest": "pipeline.ingest_s", "report": "pipeline.report_s",
    "forecast": "pipeline.forecast_s",
}
COMMITS = ("merge", "update", "delete")


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_frac", "frac"), ("_ok", "bool")):
        if name.endswith(suffix):
            return unit
    if name == "sources.gdx.stored_bytes_per_user_byte":
        return "B/B"
    return "count"


def tail(values, beyond=TAIL_BEYOND):
    """(value, percentile, samples beyond) at the highest percentile that
    has at least `beyond` samples above it. With too few samples for any
    such percentile, the median and the count above it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n > beyond:
        return xs[n - 1 - beyond], 100.0 * (n - beyond) / n, beyond
    return statistics.median(xs), 50.0, n - (n // 2 + 1)


def union_length(intervals, lo, hi):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Each span's duration minus the part of it its children cover.
    Overlapping children (parallel jobs) are counted once."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def driver_gaps(spans):
    """Per op id: its wall time minus the union of its Spark job spans, in
    seconds — the time the driver spent between jobs."""
    jobs = {}
    for s in spans:
        if s["layer"] == "spark":
            jobs.setdefault(s["op"], []).append((s["start"], s["end"]))
    return {s["op"]: ((s["end"] - s["start"]) -
                      union_length(jobs.get(s["op"], []), s["start"], s["end"])) / 1000
            for s in spans if s["layer"] == "op"}


def failures(ops, checks):
    """Ops that threw, plus ops whose name a failed counted check covers."""
    bad = {name for c in checks if c["counted"] and not c["ok"] for name in c["covers"]}
    return sum(1 for o in ops if o["error"] is not None or o["name"] in bad)


def overhead(ops):
    """Tracing overhead: per op name, mean traced over mean untraced
    latency, summed over the names seen both ways."""
    by = {}
    for o in ops:
        by.setdefault(o["name"], ([], []))[0 if o["traced"] else 1].append(o["seconds"])
    pairs = [(statistics.mean(t), statistics.mean(u)) for t, u in by.values() if t and u]
    if not pairs:
        return 0.0
    return sum(t for t, _ in pairs) / sum(u for _, u in pairs) - 1


def drift(ops):
    """First timed pass against the median of the later ones, as a
    fraction; 0 with a single pass."""
    per_pass = {}
    for o in ops:
        per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["seconds"]
    passes = [per_pass[p] for p in sorted(per_pass)]
    if len(passes) < 2:
        return 0.0
    return passes[0] / statistics.median(passes[1:]) - 1


def end_to_end(result):
    ops = result["ops"]
    secs = [o["seconds"] for o in ops]
    ok = sum(1 for o in ops if o["error"] is None)
    tail_v, tail_pct, tail_beyond = tail(secs)
    return {
        "setup_s": result["setup_s"],
        "ops_per_s": ok / result["timed_s"],
        "op_p50_s": statistics.median(secs),
        "op_tail_s": tail_v,
        "heap_retained_mb": result["heap_retained_mb"],
    }, {"op_tail_pct": tail_pct, "op_tail_beyond": tail_beyond, "ops": len(secs)}


def per_layer(result, spans, leaked_mb):
    """Per-op means over the traced ops, plus end-of-run gauges."""
    ops = result["ops"]
    traced = [o for o in ops if o["traced"]]
    n = max(1, len(traced))
    out = {name: 0.0 for name in PER_LAYER}
    for o in traced:
        for k, v in o["counters"].items():
            if k in out:
                out[k] += v / n
        out["operators.build_s"] += o["parts"].get("build", 0.0) / n
        out["operators.drain_s"] += o["parts"].get("drain", 0.0) / n
        step = STEP_METRICS.get(o["name"])
        if step:
            out[step] += o["seconds"] / n
    gaps = driver_gaps(spans)
    out["driver.gap_s"] = sum(gaps.values()) / n
    commits = [o["seconds"] for o in ops if o["name"] in COMMITS]
    out["sources.gdx.commit_p50_s"] = statistics.median(commits) if commits else 0.0
    for k, v in result["gauges"].items():
        out[k] = v
    nk = [c for c in result["checks"] if c["name"] == "natural_key_merge"]
    out["sources.gdx.natural_key_merge_ok"] = float(bool(nk and nk[0]["ok"]))
    out["scratch.leaked_mb"] = leaked_mb
    out["fail_frac"] = failures(ops, result["checks"]) / max(1, len(ops))
    out["trace.overhead_frac"] = overhead(ops)
    out["warm.drift_frac"] = drift(ops)
    return out
