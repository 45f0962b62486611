"""Per-layer metrics of the traced run.

``PER_LAYER`` is the list BENCHMARK.json's ``per_layer`` mirrors; each
entry also names the end-to-end metric and workload it should move, as
written down before anything was measured. A layer a workload never
calls reports 0 for that workload.
"""

from __future__ import annotations

from statistics import median

# name, unit, better, (end-to-end metric it should move, on which workload)
PER_LAYER = [
    ("session.start_s", "s", "lower", ("setup_s", "all")),
    ("operators.interval_avg.call_s", "s", "lower", ("op_p50_s", "panel_rollup")),
    ("operators.interval_avg.jobs", "count", "lower", ("op_p50_s", "panel_rollup")),
    ("operators.interval_avg.exec_s", "s", "lower", ("rows_per_s", "panel_rollup")),
    ("plans.strategy.pairs", "count", "lower", ("rows_per_s", "panel_rollup")),
    ("plans.strategy.shuffle_bytes", "bytes", "lower", ("rows_per_s", "panel_rollup")),
    ("operators.overlaps.exec_s", "s", "lower", ("op_tail_s", "panel_rollup")),
    ("operators.overlaps.shuffle_bytes", "bytes", "lower", ("op_tail_s", "panel_rollup")),
    ("streaming.continuous.ingest_s", "s", "lower", ("op_p50_s", "tier_ingest")),
    ("streaming.continuous.self_s", "s", "lower", ("rows_per_s", "tier_ingest")),
    ("runner.unit_s", "s", "lower", ("op_p50_s", "tier_ingest")),
    ("runner.units", "count", "lower", ("op_p50_s", "tier_ingest")),
    ("sources.catalog.upsert_s", "s", "lower", ("op_p50_s", "tier_ingest")),
    ("sources.catalog.bytes_written", "bytes", "lower", ("op_p50_s", "tier_ingest")),
    ("sources.catalog.files_written", "count", "lower", ("op_p50_s", "tier_ingest")),
    ("sources.catalog.compact_s", "s", "lower", ("op_tail_s", "tier_ingest")),
    ("sources.catalog.expire_s", "s", "lower", ("op_tail_s", "tier_ingest")),
    ("functions.compression.compress_s", "s", "lower", ("op_tail_s", "tier_ingest")),
    ("functions.compression.compress_pts_per_s", "pts/s", "higher", ("op_tail_s", "tier_ingest")),
    ("functions.compression.bytes_per_point", "bytes/pt", "lower", ("op_tail_s", "tier_ingest")),
    ("spark.cpu_busy_ratio", "ratio", "higher", ("rows_per_s", "all")),
    ("spark.gc_ratio", "ratio", "lower", ("rows_per_s", "all")),
    ("spark.spill_bytes", "bytes", "lower", ("rows_per_s", "all")),
    ("spark.tasks_failed", "count", "lower", ("failed", "all")),
]


def _mean_span(layers: dict, name: str, key: str = "total_s") -> float:
    agg = layers.get(name)
    return agg[key] / agg["calls"] if agg and agg["calls"] else 0.0


def _per_op(events: dict, ops: list[dict], kind: str, table: str) -> float:
    sel = [o for o in ops if o["kind"] == kind]
    if not sel:
        return 0.0
    return sum(events[table].get(f"op{o['i']}", 0) for o in sel) / len(sel)


def per_layer(tracer, events, counts, untraced_ops, traced_ops,
              traced_wall_s, session_s) -> tuple[dict, dict]:
    """(metrics for the JSON line, extra fields for the span report)."""
    from . import common

    layers = tracer.layer_times()
    c = tracer.counters
    tot = events["totals"]
    n_ingest = sum(o["kind"] == "ingest" for o in traced_ops)
    values = {
        "session.start_s": session_s,
        "operators.interval_avg.call_s": _mean_span(layers, "operators.interval_avg.call"),
        "operators.interval_avg.jobs": _per_op(
            events, traced_ops, "interval_weighted_avg", "jobs_by_group"),
        "operators.interval_avg.exec_s": _mean_span(layers, "operators.interval_avg.exec"),
        "plans.strategy.pairs": counts.get("pairs", 0.0),
        "plans.strategy.shuffle_bytes": _per_op(
            events, traced_ops, "interval_weighted_avg", "shuffle_by_group"),
        "operators.overlaps.exec_s": _mean_span(layers, "operators.overlaps.exec"),
        "operators.overlaps.shuffle_bytes": _per_op(
            events, traced_ops, "remove_overlaps", "shuffle_by_group"),
        "streaming.continuous.ingest_s": _mean_span(layers, "streaming.continuous.ingest"),
        "streaming.continuous.self_s": _mean_span(
            layers, "streaming.continuous.ingest", "self_s"),
        "runner.unit_s": _mean_span(layers, "runner.unit"),
        "runner.units": c.get("runner.units", 0.0) / max(1, n_ingest),
        "sources.catalog.upsert_s": _mean_span(layers, "sources.catalog.upsert"),
        "sources.catalog.bytes_written": c.get("sources.catalog.bytes_written", 0.0)
        / max(1, n_ingest),
        "sources.catalog.files_written": c.get("sources.catalog.files_written", 0.0)
        / max(1, n_ingest),
        "sources.catalog.compact_s": _mean_span(layers, "sources.catalog.compact"),
        "sources.catalog.expire_s": _mean_span(layers, "sources.catalog.expire"),
        "functions.compression.compress_s": _mean_span(
            layers, "functions.compression.compress"),
        "functions.compression.compress_pts_per_s": _rate(
            counts.get("compressed_points", 0), layers, "functions.compression.compress"),
        "functions.compression.bytes_per_point": counts.get("archive_bytes", 0)
        / max(1, counts.get("archive_points", 0)),
        "spark.cpu_busy_ratio": tot.get("cpu_ns", 0) / 1e9
        / max(1e-9, traced_wall_s * common.NPROC),
        "spark.gc_ratio": tot.get("gc_ms", 0) / max(1.0, tot.get("run_ms", 0)),
        "spark.spill_bytes": tot.get("spill_bytes", 0.0),
        "spark.tasks_failed": tot.get("tasks_failed", 0.0),
    }
    metrics = {
        name: common.fmt_metric(float(values[name]), unit)
        for name, unit, _, _ in PER_LAYER
    }
    report = {
        "tracing_overhead": _overhead(untraced_ops, traced_ops),
        "traced_wall_s": traced_wall_s,
        "layer_counts": counts,
        "per_layer": {k: v["value"] for k, v in metrics.items()},
    }
    return metrics, report


def _rate(points: float, layers: dict, name: str) -> float:
    agg = layers.get(name)
    return points / agg["total_s"] if agg and agg["total_s"] else 0.0


def _overhead(untraced: list[dict], traced: list[dict]) -> dict:
    """Median latency per op kind, traced vs untraced segment of the
    same process; ``ratio - 1`` is the tracing overhead (spans plus the
    Spark event log)."""
    out = {}
    for kind in sorted({o["kind"] for o in untraced} & {o["kind"] for o in traced}):
        a = median([o["end"] - o["start"] for o in untraced if o["kind"] == kind])
        b = median([o["end"] - o["start"] for o in traced if o["kind"] == kind])
        out[kind] = {"untraced_p50_s": a, "traced_p50_s": b, "overhead": b / a - 1}
    return out
