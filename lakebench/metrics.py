"""Arithmetic of the layered benchmark: percentiles, tail selection, span
self time, byte amplification, error rate, and the end-to-end and
per-layer metric sets computed from one run record."""

import math

# candidate tail percentiles, highest first; coarse steps keep the chosen
# percentile the same across runs whose op counts differ a little
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile `p` (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, p):
    """Samples ranked strictly above percentile `p` of `n` samples."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def tail(values, min_beyond=MIN_BEYOND, ladder=TAIL_LADDER):
    """(percentile, value) of the highest ladder percentile that has at
    least `min_beyond` samples beyond it. With too few samples for any
    ladder entry it falls back to the maximum, labelled 100."""
    n = len(values)
    for p in ladder:
        if beyond(n, p) >= min_beyond:
            return p, percentile(values, p)
    return 100.0, max(values)


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) pairs."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """span id -> duration minus the time its child spans cover (children
    clipped to the parent, overlaps counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = union_length(
            (max(c["start_ms"], lo), min(c["end_ms"], hi))
            for c in children.get(s["id"], [])
            if c["end_ms"] > lo and c["start_ms"] < hi)
        out[s["id"]] = (hi - lo) - covered
    return out


def write_amp(bytes_before, bytes_after, rows_merged, live_bytes, live_rows):
    """Bytes written under the table root per byte of merged rows, where a
    merged row is priced at the live version's bytes per row."""
    if rows_merged <= 0 or live_rows <= 0:
        return 0.0
    logical = rows_merged * live_bytes / live_rows
    return (bytes_after - bytes_before) / logical


def space_amp(bytes_on_disk, live_data_bytes):
    """Bytes on disk under the table root per byte of live data files."""
    return bytes_on_disk / live_data_bytes if live_data_bytes > 0 else 0.0


def error_counts(ops_ok, ops_failed, checks):
    """(attempted, failed): every measured op and every output check is an
    attempt; a failed op or a failed check is a failure."""
    attempted = ops_ok + ops_failed + len(checks)
    failed = ops_failed + sum(1 for c in checks if not c["ok"])
    return attempted, failed


def error_rate(ops_ok, ops_failed, checks):
    attempted, failed = error_counts(ops_ok, ops_failed, checks)
    return failed / attempted if attempted else 1.0


# --- metric sets --------------------------------------------------------

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "items_per_s": "1/s",
    "ok_ratio": "ratio",
    "retained_heap_mb": "MB",
}

# workload-specific names of the generic metrics, printed on the detail line
NAMED = {
    "gold_read": {"op_p50_ms": ("read_p50_ms", 1.0, "ms"),
                  "op_tail_ms": ("read_tail_ms", 1.0, "ms"),
                  "items_per_s": ("read_qps", 1.0, "1/s")},
    "daily_ingest": {"op_p50_ms": ("day_p50_s", 1e-3, "s"),
                     "op_tail_ms": ("day_tail_s", 1e-3, "s"),
                     "items_per_s": ("ingest_rows_per_s", 1.0, "rows/s")},
    "curation": {"op_p50_ms": ("curation_pass_p50_s", 1e-3, "s"),
                 "op_tail_ms": ("curation_pass_tail_s", 1e-3, "s"),
                 "items_per_s": ("curation_docs_per_s", 1.0, "docs/s")},
}


def end_to_end(run):
    """Generic end-to-end metrics, plus a detail record with sample counts,
    the tail percentile and the workload's own metric names."""
    lat = run["op_ms"]
    n = len(lat)
    pct, tail_v = tail(lat)
    rate = error_rate(n, run["failed_ops"], run["checks"])
    values = {
        "setup_s": run["setup_s"],
        "op_p50_ms": percentile(lat, 50.0),
        "op_tail_ms": tail_v,
        "items_per_s": sum(run["op_items"]) / run["measure_s"],
        "ok_ratio": 1.0 - rate,
        "retained_heap_mb": run["retained_heap_mb"],
    }
    samples = {"setup_s": 1, "op_p50_ms": n,
               "op_tail_ms": n, "items_per_s": n, "ok_ratio": n,
               "retained_heap_mb": 1}
    detail = {"tail_percentile": pct, "samples": samples,
              "error_rate": rate}
    for generic, (name, scale, unit) in NAMED[run["workload"]].items():
        detail[name] = {"value": values[generic] * scale, "unit": unit,
                        "samples": n}
        if generic == "op_tail_ms":
            detail[name]["percentile"] = pct
    if run["workload"] == "daily_ingest":
        f = run["facts"]
        detail["write_amp"] = write_amp(
            run["lake_bytes_before"], run["lake_bytes_after"],
            f.get("pipeline.rows_kept", 0.0),
            f.get("sinks.live_data_bytes", 0), f.get("sinks.live_rows", 0))
        detail["space_amp"] = space_amp(
            f.get("sinks.bytes_on_disk", 0), f.get("sinks.live_data_bytes", 0))
    return values, detail


PER_LAYER_UNITS = {
    "sql.front_ms": "ms",
    "sql.result_cache.hit_ratio": "ratio",
    "sql.result_cache.uncacheable": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_ms": "ms",
    "exec.driver_gap_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.task_failures": "count",
    "scan.files_read": "count",
    "scan.bytes_read": "bytes",
    "scan.files_read_ratio": "ratio",
    "sinks.land_ms": "ms",
    "sinks.merge_ms": "ms",
    "sinks.delete_ms": "ms",
    "sinks.scd2_ms": "ms",
    "sinks.optimize_ms": "ms",
    "sinks.manifest_first_ms": "ms",
    "sinks.manifest_repeat_ms": "ms",
    "sinks.files_rewritten": "count",
    "sinks.rewrite_ratio": "ratio",
    "sinks.bytes_written": "bytes",
    "sinks.live_files": "count",
    "sinks.versions": "count",
    "sinks.bytes_on_disk": "bytes",
    "sinks.commit_conflicts": "count",
    "sinks.write_amp": "ratio",
    "sinks.space_amp": "ratio",
    "pipeline.clean_ms": "ms",
    "pipeline.rows_in": "count",
    "pipeline.rows_kept": "count",
    "ext.quality_ms": "ms",
    "ext.exact_dedup_ms": "ms",
    "ext.minhash_ms": "ms",
    "ext.cluster_ms": "ms",
    "ext.exact_substr_ms": "ms",
    "ext.ivf_build_ms": "ms",
    "ext.ann_ms": "ms",
    "ext.knng_ms": "ms",
    "ext.minhash.candidates": "count",
    "ext.minhash.pairs": "count",
    "ext.minhash.precision": "ratio",
    "jvm.gc_ms": "ms",
    "jvm.gc_count": "count",
    "trace.spans": "count",
    "trace.op_self_ms": "ms",
    "trace.op_p50_ms": "ms",
    "trace.op_tail_ms": "ms",
    "trace.items_per_s": "1/s",
    "trace.setup_s": "s",
}

# per-op means of these summed facts
_PER_OP_FACTS = (
    "sql.front_ms", "sinks.land_ms", "sinks.merge_ms", "sinks.delete_ms",
    "sinks.scd2_ms", "sinks.optimize_ms", "sinks.manifest_first_ms",
    "sinks.manifest_repeat_ms", "sinks.files_rewritten",
    "sinks.bytes_written", "sinks.commit_conflicts", "pipeline.clean_ms",
    "pipeline.rows_in", "pipeline.rows_kept", "ext.quality_ms",
    "ext.exact_dedup_ms", "ext.minhash_ms", "ext.cluster_ms",
    "ext.exact_substr_ms", "ext.ivf_build_ms", "ext.ann_ms", "ext.knng_ms",
    "ext.minhash.candidates", "ext.minhash.pairs")

_EXEC_SUMS = {
    "exec.jobs": "jobs", "exec.stages": "stages", "exec.tasks": "tasks",
    "exec.task_cpu_ms": "task_cpu_ms",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.input_bytes": "input_bytes", "exec.output_bytes": "output_bytes",
    "exec.task_failures": "task_failures",
}


def _local_path(p):
    for prefix in ("file://", "file:"):
        if p.startswith(prefix):
            return p[len(prefix):]
    return p


def per_layer(run):
    """Per-layer metrics of a traced run; each is a mean per measured op
    unless its name says otherwise (end-of-run sizes, ratios, totals)."""
    ops = max(len(run["op_ms"]), 1)
    f = run["facts"]
    spans = run.get("spans", [])
    out = {name: f.get(name, 0.0) / ops for name in _PER_OP_FACTS}

    hits = f.get("sql.result_cache.hits", 0.0)
    misses = f.get("sql.result_cache.misses", 0.0)
    out["sql.result_cache.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    out["sql.result_cache.uncacheable"] = f.get("sql.result_cache.uncacheable", 0.0)

    for phase in ("analysis", "optimization", "planning"):
        out["catalyst.%s_ms" % phase] = sum(
            s["catalyst_ms"][phase] for s in spans) / ops
    for name, key in _EXEC_SUMS.items():
        out[name] = sum(s[key] for s in spans) / ops

    op_spans = [s for s in spans if s["name"] == "op"]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).extend(s["job_intervals_ms"])
    job_ms = [union_length(by_op.get(s["op"], [])) for s in op_spans]
    out["exec.job_ms"] = sum(job_ms) / ops
    out["exec.driver_gap_ms"] = sum(
        (s["end_ms"] - s["start_ms"]) - j for s, j in zip(op_spans, job_ms)) / ops

    prefixes = [_local_path(p) for p in f.get("lake.data_prefixes", [])]
    live = {_local_path(k): v
            for k, v in f.get("lake.live_files_by_prefix", {}).items()}
    files = nbytes = 0
    denom = 0.0
    for s in spans:
        for scan in s["scans"]:
            roots = [_local_path(r) for r in scan["roots"]]
            hit = [p for p in prefixes if any(r.startswith(p) for r in roots)]
            if hit:
                files += scan["files"]
                nbytes += scan["bytes"]
                denom += live.get(hit[0], f.get("sinks.live_files", 0))
    out["scan.files_read"] = files / ops
    out["scan.bytes_read"] = nbytes / ops
    out["scan.files_read_ratio"] = files / denom if denom else 0.0

    total = f.get("sinks.files_total", 0.0)
    out["sinks.rewrite_ratio"] = (
        f.get("sinks.files_rewritten", 0.0) / total if total else 0.0)
    for name in ("sinks.live_files", "sinks.versions", "sinks.bytes_on_disk"):
        out[name] = float(f.get(name, 0))
    if run["workload"] == "daily_ingest":
        _, detail = end_to_end(run)
        out["sinks.write_amp"] = detail["write_amp"]
        out["sinks.space_amp"] = detail["space_amp"]
    else:
        out["sinks.write_amp"] = out["sinks.space_amp"] = 0.0

    cands = f.get("ext.minhash.candidates", 0.0)
    out["ext.minhash.precision"] = (
        f.get("ext.minhash.pairs", 0.0) / cands if cands else 0.0)

    out["jvm.gc_ms"] = float(run["gc_ms"])
    out["jvm.gc_count"] = float(run["gc_count"])

    selfs = self_times(spans)
    out["trace.spans"] = len(spans) / ops
    out["trace.op_self_ms"] = sum(selfs[s["id"]] for s in op_spans) / ops
    values, _ = end_to_end(run)
    for name in ("op_p50_ms", "op_tail_ms", "items_per_s", "setup_s"):
        out["trace." + name] = values[name]
    return out
