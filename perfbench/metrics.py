"""Summaries of one run's raw measurements (raw.json, written by the JVM).

End-to-end metrics come from untraced passes and requests; per-layer
metrics from the traced passes of a `--trace 1` run.
"""
import json
import statistics

WORKLOADS = ("reference_flow", "curation", "live_scoring")

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "p50_ms": "ms",
    "tail_ms": "ms",
    "cpu_s": "s",
    "quality": "ratio",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
}

SPANS = (
    "GraftSession.start", "sources.scan", "ml.prepare", "ml.featurize_fit",
    "ml.train_fit", "ml.evaluate", "ml.save", "ml.load", "ml.score",
    "sources.write",
    "dedup.exact", "dedup.minhash", "textstats.gopher",
    "similarity.semantic_dedup", "search.index_build", "search.query",
)
SPAN_COUNTERS = {
    "wall_ms": "ms", "self_ms": "ms", "tasks": "count",
    "task_cpu_ms": "ms", "shuffle_bytes": "B", "spill_bytes": "B",
}
BATCH = {
    "trigger_ms": "ms", "plan_ms": "ms", "add_ms": "ms", "offsets_ms": "ms",
    "commit_ms": "ms", "rows": "count", "tasks": "count", "task_cpu_ms": "ms",
}
STATE = {"rows": "count", "memory_bytes": "B", "commit_ms": "ms",
         "dropped_rows": "count"}


def per_layer_units():
    units = {}
    for s in SPANS:
        for c, u in SPAN_COUNTERS.items():
            units[f"{s}.{c}"] = u
    for c, u in BATCH.items():
        units[f"streaming.batch.{c}"] = u
    for c, u in STATE.items():
        units[f"streaming.state.{c}"] = u
    units.update({
        "gen.late_ms": "ms", "gen.backlog_end": "count",
        "dedup.minhash.verified_per_candidate": "ratio",
        "engine.jobs": "count", "engine.gc_ms": "ms",
        "trace.overhead": "ratio",
    })
    return units


PER_LAYER = per_layer_units()
HIGHER_IS_BETTER = {"quality", "ok_ratio", "dedup.minhash.verified_per_candidate"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). With n samples sorted ascending that is
    the (n-10)th smallest: exactly ten samples lie above it. Below eleven
    samples no percentile above the median qualifies, so the median is
    reported with percentile 50.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return statistics.median(xs), 50.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def union_within(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span_start, span_end, job_intervals):
    """Span time not covered by any of its jobs: the driver side."""
    return (span_end - span_start) - union_within(job_intervals, span_start, span_end)


def _passes(raw, kind):
    return [p for p in raw["passes"] if p["kind"] == kind]


def _latencies(raw):
    """Latencies with failures (null) charged the whole measured window."""
    lo, hi = raw["window_ms"]
    return [hi - lo if x is None else x for x in raw["latencies_ms"]]


def end_to_end(raw):
    untraced = _passes(raw, "u")
    walls = [(p["end"] - p["start"]) for p in untraced]
    lat = _latencies(raw) if raw["latencies_ms"] else walls
    p50 = median(lat)
    t, pct, n = tail(lat)
    attempted = max(1, int(raw["attempted"]))
    values = {
        "setup_s": median(raw["setup_s"]) + raw["warmup_s"],
        "pass_s": median(walls) / 1000.0,
        "p50_ms": p50,
        "tail_ms": t,
        "cpu_s": median([p["cpu_ms"] for p in untraced]) / 1000.0,
        "quality": raw["quality"] if raw["quality"] is not None else 0.0,
        "ok_ratio": (attempted - int(raw["failed"])) / attempted,
        "peak_rss_mb": raw["layer"].get("peak_rss_mb", 0.0),
    }
    notes = {"tail": f"p{pct:.2f} of n={n} samples", "passes": len(walls),
             "passes_s": [round(w / 1000.0, 3) for w in walls],
             "setup_reps_s": [round(x, 3) for x in raw["setup_s"]],
             "warmup_s": round(raw["warmup_s"], 3)}
    for k in ("native_rss_mb", "live_heap_mb", "gen.late_ms", "gen.backlog_end"):
        if k in raw["layer"]:
            notes[k] = round(raw["layer"][k], 3)
    return values, notes


def _jobs_by_group(raw):
    by = {}
    for j in raw["jobs"]:
        by.setdefault(j["group"], []).append(j)
    return by


def _interval(j, fallback_end):
    end = j["end"] if j["end"] is not None else fallback_end
    return j["start"], end


# `Sentiment.trainEval` runs in one span; its jobs carry the part they
# belong to (Trace.scala, MlPhase), in this order
TRAIN_EVAL = "ml.train_eval"
ML_PHASES = ("featurize_fit", "train_fit", "evaluate")


def split_phases(start, end, jobs):
    """Split the span of a `trainEval` call into one span per phase.

    A phase ends where its last job ends, the last one at the span's end, so
    the driver time between two phases goes to the later one. Each job
    belongs to the phase it starts in. Returns [(name, start, end, jobs)].
    """
    bounds = [start]
    for ph in ML_PHASES[:-1]:
        ends = [_interval(j, end)[1] for j in jobs if j.get("phase") == ph]
        bounds.append(max([bounds[-1]] + ends))
    bounds.append(end)
    out = []
    for k, ph in enumerate(ML_PHASES):
        lo, hi = bounds[k], bounds[k + 1]
        last = k == len(ML_PHASES) - 1
        mine = [j for j in jobs if last or j["start"] < hi]
        jobs = [j for j in jobs if not (last or j["start"] < hi)]
        out.append((f"ml.{ph}", lo, hi, mine))
    return out


def _span_row(start, end, jobs):
    return {
        "wall_ms": end - start,
        "self_ms": self_time(start, end, [_interval(j, end) for j in jobs]),
        "tasks": sum(j["tasks"] for j in jobs),
        "task_cpu_ms": sum(j["task_cpu_ms"] for j in jobs),
        "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
        "spill_bytes": sum(j["spill_bytes"] for j in jobs),
    }


def per_layer(raw):
    by_group = _jobs_by_group(raw)
    out = {k: 0.0 for k in PER_LAYER}
    occ = {}
    for s in raw["spans"]:
        jobs = by_group.get(s["group"], []) if s["group"] else []
        if s["name"] == TRAIN_EVAL:
            parts = split_phases(s["start"], s["end"], jobs)
        else:
            parts = [(s["name"], s["start"], s["end"], jobs)]
        for name, start, end, js in parts:
            occ.setdefault(name, []).append(_span_row(start, end, js))
    for name, rows in occ.items():
        if name not in SPANS:
            continue
        for c in SPAN_COUNTERS:
            out[f"{name}.{c}"] = median([r[c] for r in rows])

    batches = [b if isinstance(b, dict) else json.loads(b) for b in raw["stream_batches"]]
    live = by_group.get(raw.get("live_run_id", ""), []) if raw.get("live_run_id") else []
    per_batch = {}
    for j in live:
        if j["batch"] != "":
            agg = per_batch.setdefault(int(j["batch"]), [0, 0.0])
            agg[0] += j["tasks"]
            agg[1] += j["task_cpu_ms"]
    cols = {k: [] for k in list(BATCH) + [f"state.{k}" for k in STATE]}
    for b in batches:
        d = b.get("durationMs", {})
        cols["trigger_ms"].append(d.get("triggerExecution", 0))
        cols["plan_ms"].append(d.get("queryPlanning", 0))
        cols["add_ms"].append(d.get("addBatch", 0))
        cols["offsets_ms"].append(d.get("latestOffset", 0) + d.get("walCommit", 0))
        cols["commit_ms"].append(d.get("commitOffsets", 0) + d.get("commitBatch", 0))
        cols["rows"].append(b.get("numInputRows", 0))
        tasks, cpu = per_batch.get(b.get("batchId"), (0, 0.0))
        cols["tasks"].append(tasks)
        cols["task_cpu_ms"].append(cpu)
        ops = b.get("stateOperators", [])
        cols["state.rows"].append(sum(o.get("numRowsTotal", 0) for o in ops))
        cols["state.memory_bytes"].append(sum(o.get("memoryUsedBytes", 0) for o in ops))
        cols["state.commit_ms"].append(sum(o.get("commitTimeMs", 0) for o in ops))
        cols["state.dropped_rows"].append(sum(o.get("numRowsDroppedByWatermark", 0) for o in ops))
    # means, not medians: progress reports whole milliseconds, and a median
    # of whole numbers hides every change smaller than one
    if batches:
        for k in BATCH:
            out[f"streaming.batch.{k}"] = statistics.fmean(cols[k])
        for k in STATE:
            out[f"streaming.state.{k}"] = statistics.fmean(cols[f"state.{k}"])

    for k in ("gen.late_ms", "gen.backlog_end", "dedup.minhash.verified_per_candidate"):
        if k in raw["layer"]:
            out[k] = raw["layer"][k]

    traced = _passes(raw, "t")
    untraced = _passes(raw, "u")
    starts = [j["start"] for j in raw["jobs"]]
    out["engine.jobs"] = median([sum(1 for t in starts if p["start"] <= t <= p["end"])
                                 for p in traced])
    out["engine.gc_ms"] = median([p["gc_ms"] for p in traced])
    if traced and untraced:
        out["trace.overhead"] = (median([p["end"] - p["start"] for p in traced]) /
                                 median([p["end"] - p["start"] for p in untraced]))
    return out


def summarize(raw):
    """The result line's fields for one run."""
    checks = raw["checks"]
    correct = bool(checks) and all(c["ok"] for c in checks)
    if raw["trace"] == 1:
        values, units, notes = per_layer(raw), PER_LAYER, {}
    else:
        values, notes = end_to_end(raw)
        units = END_TO_END
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    return {"correct": correct, "attempted": max(1, int(raw["attempted"])),
            "failed": int(raw["failed"]), "metrics": metrics}, notes
