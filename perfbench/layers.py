"""Per-layer metrics of a traced run, computed from the spans and operation
records ``tracing.Tracer`` kept. Every name in ``NAMES`` is emitted for
every workload; a layer the workload does not exercise reads 0.

Aggregation rules:
- ``*_s`` layer times: summed self time of the layer's spans divided by the
  traced operations, so the layers of one operation add up to its latency.
- per-operation counts (``spark.*``, ``catalog.files_*``): the median per
  operation name, then the mean over names (sum for the file counts), so a
  fixed seed gives the same count however many passes fit in the run.
- per-commit-kind and streaming figures: medians over the traced commits
  or drains of that kind.

Span times are wall time. Operation latencies (``query_s.*``,
``catalog.commit_s.*``) are wall time less the host's CPU steal, like the
end-to-end metrics; ``streaming.*`` times are wall time, like the trigger
durations Spark reports.
"""

from __future__ import annotations

import statistics

from bench import HEADLINE
from tracing import self_times

COMMIT_KINDS = ("pk_upsert", "pk_delete", "dv_upsert", "dv_delete", "merge", "compact", "expire")

# span name -> layer time metric
_LAYER_SPANS = {
    "sources.table_s": ("sources.table",),
    "operators.build_s": ("operators.build",),
    "operators.plan_s": ("operators.plan",),
    "operators.exec_s": ("operators.exec",),
    "operators.merge_on_read_s": ("operators.merge_on_read",),
    "catalog.scan_plan_s": ("catalog.scan_plan",),
    "catalog.prune_files_s": ("catalog.prune_files",),
    "catalog.file_index_probe_s": ("catalog.file_index_probe",),
    "catalog.read_table_s": ("catalog.read_table",),
    "catalog.snapshot_load_s": ("catalog.snapshot_load",),
}
_SPARK = (
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
)
_PLAN = (
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.peak_op_memory_bytes", "bytes"),
    ("spark.files_read", "count"),
    ("spark.python_rows", "count"),
    ("spark.arrow_bytes", "bytes"),
)
_STREAM_MS = ("trigger_ms", "add_batch_ms", "query_planning_ms", "get_batch_ms", "wal_commit_ms")


def _units() -> dict[str, str]:
    u = {"session.start_s": "s", "process.peak_rss_mb": "MB"}
    u.update({k: "s" for k in _LAYER_SPANS})
    u.update({f"query_s.{q}": "s" for q in HEADLINE})
    u.update(dict(_SPARK))
    u.update(dict(_PLAN))
    u.update({"catalog.files_live": "count", "catalog.files_kept": "count",
              "catalog.prune_ratio": "ratio"})
    for k in COMMIT_KINDS:
        u[f"catalog.commit_s.{k}"] = "s"
        u[f"catalog.jobs_per_commit.{k}"] = "count"
        u[f"catalog.tasks_per_commit.{k}"] = "count"
        u[f"catalog.bytes_written_per_commit.{k}"] = "bytes"
        u[f"catalog.files_added_per_commit.{k}"] = "count"
    u.update({
        "catalog.compact_bytes_rewritten": "bytes",
        "catalog.live_files_end": "count",
        "catalog.snapshots_retained_end": "count",
        "catalog.commit_conflicts": "count",
        "catalog.stored_bytes_per_user_byte": "ratio",
        "streaming.catchup_wall_s": "s",
        "streaming.batches": "count",
        "streaming.input_rows": "count",
    })
    u.update({f"streaming.{k}": "ms" for k in _STREAM_MS})
    u.update({"streaming.outside_trigger_s": "s", "streaming.sink_commit_s": "s",
              "trace.overhead_s": "s", "trace.overhead_ratio": "ratio"})
    return u


UNITS = _units()
NAMES = tuple(UNITS)


def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _per_name(recs: list[dict], get) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for r in recs:
        by.setdefault(r["name"], []).append(get(r))
    return {n: _med(v) for n, v in by.items()}


def compute(tracer, samples, session_s: float, extra: dict) -> dict[str, float]:
    """All per-layer values. ``samples`` are the timed samples of the run;
    ``extra`` carries workload-side figures (commit I/O, end state)."""
    out = {n: 0.0 for n in NAMES}
    out["session.start_s"] = session_s
    out["process.peak_rss_mb"] = extra["peak_rss_mb"]
    recs = tracer.ops
    traced = [s for s in samples if s.traced]
    untraced = [s for s in samples if not s.traced]
    n_ops = max(1, len(recs))

    selft = self_times(tracer.spans)
    for metric, names in _LAYER_SPANS.items():
        out[metric] = sum(selft[s.id] for s in tracer.spans if s.name in names and s.id in selft) / n_ops

    for q, v in _per_name([{"name": s.name, "v": s.seconds} for s in traced], lambda r: r["v"]).items():
        if f"query_s.{q}" in out:
            out[f"query_s.{q}"] = v

    for metric, _ in _SPARK:
        key = metric.split(".", 1)[1]
        per = _per_name(recs, lambda r: r.get(key, 0))
        out[metric] = sum(per.values()) / max(1, len(per))
    plan_recs = [r for r in recs if "plan" in r]
    for metric, _ in _PLAN:
        key = metric.split(".", 1)[1]
        per = _per_name(plan_recs, lambda r: r["plan"][key])
        out[metric] = sum(per.values()) / max(1, len(per))

    # files live before pruning and kept after the last pruning rung, per op
    by_op: dict[str, dict] = {}
    for s in tracer.spans:
        if s.name in ("catalog.prune_files", "catalog.file_index_probe") and s.op:
            d = by_op.setdefault(s.op, {"live": 0, "pruned": 0, "index": None})
            if s.name == "catalog.prune_files":
                d["live"] += s.attrs.get("files_in", 0)
                d["pruned"] += s.attrs.get("files_out", 0)
            else:
                d["index"] = (d["index"] or 0) + s.attrs.get("files_out", 0)
    op_name = {r["op"]: r["name"] for r in recs}
    files = [{"name": op_name.get(o, o), **d} for o, d in by_op.items()]
    out["catalog.files_live"] = sum(_per_name(files, lambda r: r["live"]).values())
    out["catalog.files_kept"] = sum(
        _per_name(files, lambda r: r["pruned"] if r["index"] is None else r["index"]).values()
    )
    if out["catalog.files_live"]:
        out["catalog.prune_ratio"] = out["catalog.files_kept"] / out["catalog.files_live"]

    for k in COMMIT_KINDS:
        ks = [s for s in traced if s.kind == "commit" and s.name == k]
        out[f"catalog.commit_s.{k}"] = _med([s.seconds for s in ks])
        out[f"catalog.jobs_per_commit.{k}"] = _med([s.rec["jobs"] for s in ks])
        out[f"catalog.tasks_per_commit.{k}"] = _med([s.rec["tasks"] for s in ks])
        io = extra.get("io", {}).get(k, [])
        out[f"catalog.bytes_written_per_commit.{k}"] = _med([b for b, _ in io])
        out[f"catalog.files_added_per_commit.{k}"] = _med([f for _, f in io])
    out["catalog.compact_bytes_rewritten"] = _med(extra.get("compact_bytes", []))
    for k in ("live_files_end", "snapshots_retained_end", "stored_bytes_per_user_byte"):
        out[f"catalog.{k}"] = extra.get(k, 0.0)
    out["catalog.commit_conflicts"] = sum(
        1 for s in tracer.spans
        if s.name == "catalog.insert_into" and s.attrs.get("error") == "CommitConflictError"
    )

    drains = [s for s in traced if s.kind == "drain"]
    if drains:
        # wall time, like the trigger durations Spark reports
        out["streaming.catchup_wall_s"] = _med([s.wall for s in drains])
        for k in ("batches", "input_rows") + _STREAM_MS:
            out[f"streaming.{k}"] = _med([s.rec.get(k, 0) for s in drains])
        out["streaming.outside_trigger_s"] = _med(
            [s.wall - s.rec.get("trigger_ms", 0) / 1000.0 for s in drains]
        )
        sink = {s.rec["op"]: 0.0 for s in drains}
        for sp in tracer.spans:
            if sp.name == "catalog.insert_with_retries" and sp.op in sink:
                sink[sp.op] += sp.end - sp.start
        out["streaming.sink_commit_s"] = _med(list(sink.values()))

    # tracing overhead: traced minus untraced latency, per operation name
    t_med = _per_name([{"name": s.name, "v": s.seconds} for s in traced], lambda r: r["v"])
    u_med = _per_name([{"name": s.name, "v": s.seconds} for s in untraced], lambda r: r["v"])
    both = sorted(set(t_med) & set(u_med))
    if both:
        out["trace.overhead_s"] = sum(t_med[n] - u_med[n] for n in both) / len(both)
        out["trace.overhead_ratio"] = (
            sum(t_med[n] for n in both) / sum(u_med[n] for n in both) - 1.0
        )
    return out


def install_shims(tracer) -> None:
    """Wrap the package's public entry points of each layer."""
    from incubator_paimon_trino_spark.catalog import file_index, metadata, scan
    from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog
    from incubator_paimon_trino_spark.operators import merge_on_read
    from incubator_paimon_trino_spark.sources import registry
    from incubator_paimon_trino_spark.streaming import changelog

    def files_io(idx):
        def on_result(span, args, result):
            span.attrs["files_in"] = len(args[idx])
            span.attrs["files_out"] = len(result)

        return on_result

    tracer.shim(registry, "table", "sources.table")
    tracer.shim(merge_on_read, "merge_on_read", "operators.merge_on_read")
    tracer.shim(WarehouseCatalog, "read_table", "catalog.read_table")
    tracer.shim(WarehouseCatalog, "_pin_snapshot", "catalog.scan_plan")
    tracer.shim(scan, "prune_files", "catalog.prune_files", files_io(0))
    tracer.shim(file_index, "prune_files_by_index", "catalog.file_index_probe", files_io(2))
    tracer.shim(metadata, "load_snapshots", "catalog.snapshot_load")
    tracer.shim(metadata, "read_json", "catalog.snapshot_load")
    tracer.shim(WarehouseCatalog, "insert_into", "catalog.insert_into")
    tracer.shim(WarehouseCatalog, "insert_with_retries", "catalog.insert_with_retries")
    tracer.shim(changelog, "read_changelog_stream", "streaming.read_changelog_stream")
    tracer.shim(changelog, "write_stream_to_table", "streaming.write_stream_to_table")
