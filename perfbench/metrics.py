"""Turn one harness run (its raw result and, when traced, its spans) into
the benchmark's metrics: end-to-end metrics from the untraced run and
per-layer metrics from the traced one."""

import json
import math
import statistics

# Every layer span the harness records: one call from the benchmark into
# a public function of the engine.
SPANS = [
    "telemetry.ingest",
    "telemetry.accessor.point",
    "telemetry.accessor.range",
    "telemetry.accessor.fleet",
    "telemetry.accessor.latest_topk",
    "telemetry.warehouse.append",
    "ml.fit",
    "ml.score",
    "curation.run_docs",
    "vector_index.build_binary",
    "vector_index.build_ivfpq",
    "table.append",
    "table.merge",
    "table.delete",
    "table.maintain",
    "view.fold",
    "text_index.sync",
    "dedup.incremental",
    "table.read_range",
    "table.read_point",
    "table.count_rows",
    "table.read_scan",
    "text_index.bm25_pruned",
    "vector_index.search_binary",
    "vector_index.search_ivfpq",
    # set-up only
    "table.snapshot",
    "text_index.build",
    "view.init",
    "dedup.cluster",
]

# Counters summed over a span's calls.
COUNTERS = ("actions", "jobs", "task_s", "planning_ms", "shuffle_bytes",
            "input_bytes", "written_bytes")


def percentile(xs, p):
    """Percentile `p` (0-100) of `xs` by the Harrell-Davis estimator: a
    Beta-weighted mean of every order statistic rather than the one or two
    nearest `p`, so a gap between kinds of request in a small sample does
    not make it jump between runs. 0 when empty."""
    s = sorted(xs)
    n = len(s)
    if n < 2:
        return float(s[0]) if s else 0.0
    q = p / 100.0
    a, b = q * (n + 1), (1 - q) * (n + 1)

    def density(x):  # unnormalised Beta(a, b)
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x))

    steps = 64  # Simpson's rule on each of the n slices of [0, 1]
    weights = []
    for i in range(n):
        lo, h = i / n, 1.0 / n / steps
        inner = sum((4 if k % 2 else 2) * density(lo + k * h) for k in range(1, steps))
        weights.append((density(lo) + inner + density(lo + steps * h)) * h / 3)
    return sum(w * x for w, x in zip(weights, s)) / sum(weights)


def self_times(spans):
    """Span id -> self time in seconds: the span's duration minus the part
    of its interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in sorted((max(c["start_ns"], lo), min(c["end_ns"], hi))
                           for c in children.get(s["id"], [])):
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def serve_samples(raw):
    return [x for xs in raw["serve_ms"].values() for x in xs]


def end_to_end(raw):
    """Name -> (value, unit) of every end-to-end metric, plus details
    (sample counts and the workload's own named metrics) for the report."""
    samples = serve_samples(raw)
    rows = sum(r for r, _ in raw["bulk"].values())
    secs = sum(s for _, s in raw["bulk"].values())
    metrics = {
        "setup_s": (raw["session_start_s"] + raw["warmup_s"]
                    + statistics.median(raw["standing_s"]), "s"),
        "bulk_rows_per_s": (rows / secs if secs > 0 else 0.0, "rows/s"),
        "serve_p50_ms": (percentile(samples, 50), "ms"),
        "serve_mean_ms": (statistics.fmean(samples) if samples else 0.0, "ms"),
        "heap_retained_mb": (raw["heap_retained_mb"], "MB"),
        "bytes_per_live_byte": (raw["disk_bytes"] / raw["live_bytes"]
                                if raw["live_bytes"] else 0.0, "B/B"),
    }
    details = {
        "serve_samples": len(samples),
        "serve_p90_ms": percentile(samples, 90),
        "peak_rss_mb": raw["peak_rss_mb"],
        "bulk_ops": sum(len(v) for v in raw["bulk_s"].values()),
        "failed_op_frac": raw["failed"] / max(raw["attempted"], 1),
        "session_start_s": raw["session_start_s"],
        "generate_s": raw["generate_s"],
        "finish_s": raw["finish_s"],
        "warmup_s": raw["warmup_s"],
        "standing_s": " ".join(f"{x:.3f}" for x in raw["standing_s"]),
    }
    for name, (r, s) in raw["bulk"].items():
        details[f"{name}.rows_per_s"] = r / s if s > 0 else 0.0
    for name, xs in raw["bulk_s"].items():
        details[f"{name}.p50_s"] = percentile(xs, 50)
        details[f"{name}.n"] = len(xs)
    for name, xs in raw["serve_ms"].items():
        details[f"{name}.p50_ms"] = percentile(xs, 50)
        details[f"{name}.p90_ms"] = percentile(xs, 90)
        details[f"{name}.n"] = len(xs)
    return metrics, details


def per_layer(raw, spans):
    """Name -> value of every per-layer metric the harness can produce.
    A layer the workload does not exercise reports zeros."""
    selfs = self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    out = {}
    for name in SPANS:
        calls = by_name.get(name, [])
        total = {}
        for s in calls:
            for k, v in s["counters"].items():
                total[k] = total.get(k, 0.0) + v
        out[f"{name}.calls"] = float(len(calls))
        out[f"{name}.busy_s"] = sum(selfs[s["id"]] for s in calls)
        out[f"{name}.p50_ms"] = percentile(
            [(s["end_ns"] - s["start_ns"]) / 1e6 for s in calls], 50)
        out[f"{name}.failed"] = float(sum(1 for s in calls if s["failed"]))
        for k in COUNTERS:
            out[f"{name}.{k}"] = total.get(k, 0.0)
        results = total.get("result_rows", 0.0)
        out[f"{name}.rows_per_result"] = (
            total.get("records_read", 0.0) / results if results else 0.0)
        files = total.get("files_total", 0.0)
        out[f"{name}.files_read_frac"] = (
            total.get("files_read", 0.0) / files if files else 0.0)
        out[f"{name}.recall_at_10"] = 0.0
    out["curation.run_docs.near_dup_precision"] = 0.0
    out["curation.run_docs.near_dup_recall"] = 0.0
    out.update(raw["ratios"])
    out["engine.floor_ms"] = raw["engine_floor_ms"]
    out["jvm.gc_s"] = raw["jvm_gc_s"]
    out["jvm.peak_heap_mb"] = raw["jvm_peak_heap_mb"]
    return out


def load_spans(path):
    """The spans a traced run wrote, one JSON object per line."""
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
