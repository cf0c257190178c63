"""Metric arithmetic: medians, the tail-percentile rule, span self time,
and the end-to-end and per-layer metrics of one run's result file."""
import math
import statistics

from gen import QUERY_KEYS

LAYERS = ["core", "pipeline", "translate", "schema", "sources", "load",
          "validate", "operators", "plans", "functions", "multimodal",
          "streaming", "queries"]
MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The value at the highest percentile that has at least ten samples
    beyond it, with that percentile: (value, percentile, sample count).
    Fewer than eleven samples have no such percentile: (None, None, n)."""
    s = sorted(xs)
    n = len(s)
    if n <= MIN_BEYOND:
        return None, None, n
    i = n - MIN_BEYOND - 1
    return s[i], 100.0 * (i + 1) / n, n


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - covered(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def end_to_end(result):
    untraced = [p for p in result["passes"] if not p["traced"]]
    return {
        "setup_s": (median(result["setup_s"]), "s"),
        "run_s": (median([p["wall_s"] for p in untraced]), "s"),
        "cpu_s": (median([p["cpu_s"] for p in untraced]), "s"),
        "heap_mb": (result["heap_mb"], "MB"),
    }


def _layer_of_job(job, samples, span_layer):
    """The layer of the innermost graft frame of the job's call site; for a
    job launched where no graft frame is on the stack (a Spark-owned
    thread), the layer whose samples dominate the time it ran, else the
    layer of the span that launched it."""
    if job.get("layer"):
        return job["layer"]
    votes = {}
    for t, layer in samples:
        if job["start"] <= t <= job["end"]:
            votes[layer] = votes.get(layer, 0) + 1
    if votes:
        return max(sorted(votes), key=votes.get)
    return span_layer.get(job["span"], "bench")


def per_layer(result):
    """Per-layer metrics of the run's first pass (traced), plus the tracing
    overhead: the traced pass 2 minus the untraced pass 1. Layers a
    workload does not use read 0."""
    tr = result["trace"]
    passes = result["passes"]
    spans = [s for s in tr["spans"] if s["trace"] == 1]
    root = next(s for s in spans if s["parent"] == 0)
    lo, hi = root["start"], root["end"]
    wall = (hi - lo) / 1000.0
    samples = [(t, layer) for t, layer in tr["samples"] if lo <= t <= hi]
    jobs = [j for j in tr["jobs"] if lo <= j["start"] <= hi]
    span_layer = {s["id"]: s["layer"] for s in spans}
    m = {}

    counts = {}
    for _, layer in samples:
        counts[layer] = counts.get(layer, 0) + 1
    for layer in LAYERS:
        share = counts.get(layer, 0) / len(samples) if samples else 0.0
        m["pipeline.self_s" if layer == "pipeline" else f"{layer}.s"] = (wall * share, "s")
    by_layer = {layer: [] for layer in LAYERS}
    for j in jobs:
        by_layer.setdefault(_layer_of_job(j, samples, span_layer), []).append(j)
    for layer in LAYERS:
        js = by_layer[layer]
        m[f"{layer}.jobs"] = (len(js), "count")
        m[f"{layer}.cpu_s"] = (sum(j["cpu_s"] for j in js), "s")
        m[f"{layer}.shuffle_mb"] = (sum(j["shuffle_mb"] for j in js), "MB")
    val = by_layer["validate"]
    m["validate.spill_mb"] = (sum(j["spill_mb"] for j in val), "MB")
    m["operators.spill_mb"] = (sum(j["spill_mb"] for j in by_layer["operators"]), "MB")
    m["validate.skew"] = (max([j["skew"] for j in val], default=0.0), "ratio")

    facts = result["facts"]
    mig = facts.get("passes", [{}])[0] if "passes" in facts else {}
    m["schema.attempts"] = (mig.get("schema_attempts", 0), "count")
    m["load.rows"] = (mig.get("load_rows", 0), "count")
    m.update(_streaming(result, spans, jobs))
    m.update(_queries(result, spans, jobs))

    children = [s for s in spans if s["parent"] == root["id"]]
    m["bench.self_s"] = (self_time(root, children) / 1000.0, "s")
    m["trace.spans"] = (len(spans), "count")
    m["trace.jobs"] = (len(jobs), "count")
    walls = [p["wall_s"] for p in passes]
    m["trace.overhead_s"] = (walls[2] - walls[1] if len(walls) >= 3 else 0.0, "s")
    return m


def _streaming(result, spans, jobs):
    facts = result["facts"]
    first = [b for b in facts.get("batches", []) if b["pass"] == 0]
    folds = [s for s in spans if s["name"] == "streaming.fold"]
    topk = [s for s in spans if s["name"] == "streaming.topk_fold"]
    reads = [s for s in spans if s["name"] == "read"]
    ops = result["ops"]
    # pass 0 only, like every other streaming figure: passes 1 and 2 differ
    # in tracing, so pooling them would mix two kinds of pass
    fold_lat = [o["s"] for o in ops if o["name"] == "fold" and o["pass"] == 0]
    read_lat = [o["s"] for o in ops if o["name"] == "read" and o["pass"] == 0]
    fold_ops = [s for s in spans if s["name"] == "fold"]
    in_folds = [j for j in jobs if any(s["start"] <= j["start"] <= s["end"] for s in fold_ops)]
    n = max(len(first), 1)
    tail_s, tail_pct, samples = tail(fold_lat)
    delta = sum(b["delta_bytes"] for b in first)
    dur = lambda ss: median([(s["end"] - s["start"]) / 1000.0 for s in ss])
    store = lambda k: sum(b["store"].get(k, 0.0) for b in first) / n
    return {
        "streaming.fold.s": (dur(folds), "s"),
        "streaming.topk_fold.s": (dur(topk), "s"),
        "streaming.read.s": (dur(reads), "s"),
        "streaming.jobs_per_batch": (len(in_folds) / n if first else 0.0, "count"),
        "streaming.touched_buckets": (sum(b["touched_buckets"] for b in first) / n, "count"),
        "streaming.files_written": (sum(b["files_written"] for b in first) / n, "count"),
        "streaming.bytes_written": (sum(b["bytes_written"] for b in first) / n, "bytes"),
        "streaming.compactions": (sum(1 for b in first if b["compaction"]), "count"),
        "streaming.manifest_links": (first[-1]["manifest_links"] if first else 0, "count"),
        "streaming.store.manifest_s": (store("manifest"), "s"),
        "streaming.store.validate_s": (store("validate"), "s"),
        "streaming.store.buckets_s": (store("buckets"), "s"),
        "streaming.store.write_s": (store("write"), "s"),
        "streaming.fold_p50_s": (median(fold_lat), "s"),
        "streaming.fold_tail_s": (tail_s or 0.0, "s"),
        "streaming.fold_tail_pct": (tail_pct or 0.0, "%"),
        "streaming.fold_samples": (samples, "count"),
        "streaming.view_read_s": (median(read_lat), "s"),
        "streaming.write_amp": (sum(b["bytes_written"] for b in first) / delta if delta else 0.0,
                                "ratio"),
        "streaming.store_mb": (facts.get("store_mb", 0.0), "MB"),
    }


def _queries(result, spans, jobs):
    m = {}
    ops = {o["name"]: o["s"] for o in result["ops"] if o["pass"] == 0}
    builds = {s["name"][len("build "):]: s for s in spans if s["name"].startswith("build ")}
    execs = {s["id"] for s in spans if s["name"].startswith("exec ")}
    for k in QUERY_KEYS:
        m[f"queries.{k}.s"] = (ops.get(k, 0.0), "s")
        b = builds.get(k)
        m[f"queries.{k}.build_s"] = ((b["end"] - b["start"]) / 1000.0 if b else 0.0, "s")
    build_ids = {s["id"] for s in builds.values()}
    m["queries.build_jobs"] = (sum(1 for j in jobs if j["span"] in build_ids), "count")
    m["queries.exchanges"] = (sum(n for sid, n in result["trace"]["executions"]
                                  if sid in execs), "count")
    times = [ops[k] for k in QUERY_KEYS if ops.get(k)]
    m["queries.geomean_s"] = (math.exp(sum(map(math.log, times)) / len(times))
                              if times else 0.0, "s")
    return m
