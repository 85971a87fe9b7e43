"""Per-layer metrics and the per-layer report of a traced run.

Layer names follow the library's modules: ``sources`` (read_json_cdc),
``merge`` (operators.merge), ``catalog`` (commits, manifests, plan_files),
``scan`` (MoonTable.scan and its deletion-vector anti-join), ``compact``,
``cluster`` (operators.clustering, reached directly, through optimize and
through streaming.ingest.maybe_maintain), ``manifest_rewrite``, ``expire``,
``sweep``, ``export`` and ``mirror_expire`` (iceberg), ``writer``
(plans.physical, reached only through the ops) and ``spark``.
"""

from __future__ import annotations

import json
import os

from spans import BENCH_LAYERS, Spans, attribute, layer_table, median, read_event_log, render


PER_LAYER_UNITS = {
    "sources.events": "count",
    "sources.json_mb": "MB",
    "merge.calls": "count",
    "merge.busy_s": "s",
    "merge.p50_s": "s",
    "merge.jobs_per_call": "count",
    "merge.tasks_per_call": "count",
    "merge.matched_keys": "count",
    "merge.probe_file_frac": "ratio",
    "catalog.commits": "count",
    "catalog.data_files": "count",
    "catalog.delete_files": "count",
    "catalog.manifests": "count",
    "catalog.meta_read_p50_s": "s",
    "catalog.plan_p50_s": "s",
    "scan.full_p50_s": "s",
    "scan.range_p50_s": "s",
    "scan.lookup_p50_s": "s",
    "scan.range_file_frac": "ratio",
    "scan.lookup_file_frac": "ratio",
    "scan.delete_files": "count",
    "scan.jobs_per_query": "count",
    "compact.calls": "count",
    "compact.busy_s": "s",
    "compact.mb_read": "MB",
    "compact.mb_written": "MB",
    "compact.files_in": "count",
    "compact.files_out": "count",
    "compact.jobs_per_call": "count",
    "compact.noop_calls": "count",
    "cluster_full.busy_s": "s",
    "cluster_full.mb_written": "MB",
    "cluster_inc.calls": "count",
    "cluster_inc.busy_s": "s",
    "cluster_inc.mb_written": "MB",
    "policy.due_frac": "ratio",
    "manifest_rewrite.busy_s": "s",
    "manifest_rewrite.manifests_out": "count",
    "expire.busy_s": "s",
    "expire.snapshots_removed": "count",
    "sweep.busy_s": "s",
    "sweep.files_removed": "count",
    "sweep.mb_freed": "MB",
    "export.calls": "count",
    "export.p50_s": "s",
    "export.busy_s": "s",
    "mirror_expire.busy_s": "s",
    "writer.mb_written": "MB",
    "writer.files_written": "count",
    "writer.mean_file_mb": "MB",
    "session.start_s": "s",
    "warmup_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.driver_only_s": "s",
    "ops.attempted": "count",
    "ops.failed": "count",
    "trace.overhead": "ratio",
    "trace.gap_frac": "ratio",
}


def per_layer(b, spans: Spans, out: dict, info: dict, run_dir: str, reports: str):
    """Returns ({name: (value, unit)}, report markdown)."""
    jobs = read_event_log(os.path.join(run_dir, "eventlog"))
    charged = attribute(spans, jobs)
    measured = [out["phase"], out["reads_span"]]
    if out["maint_span"] is not out["phase"]:
        measured.append(out["maint_span"])

    warm = [s for s in spans.spans if s.name.startswith("warm:")]  # untimed read warm-ups

    def calls(layer: str) -> list:
        return [s for s in spans.spans if s.layer == layer
                and any(spans.inside(s, m) for m in measured)
                and not any(spans.inside(s, w) for w in warm)]

    def busy(layer: str) -> float:
        return sum(spans.self_time(s) for s in calls(layer))

    def per_call(spans_: list, tasks: bool = False) -> float:
        js = [j for s in spans_ for j in charged.get(s.sid, [])]
        return (sum(j.tasks for j in js) if tasks else len(js)) / len(spans_) if spans_ else 0.0

    def attr_sum(spans_: list, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in spans_)

    merges, comp = calls("merge"), calls("compact")
    full = [s for s in calls("cluster") if s.attrs.get("full")]
    inc = [s for s in calls("cluster") if not s.attrs.get("full")]
    scans = calls("scan.full") + calls("scan.range") + calls("scan.lookup")
    meta = b.table.meta
    snap = meta.current_snapshot()
    n_data, n_del = len(b.table.data_files()), len(b.table.delete_files())
    all_measured = [j for m in measured for s in spans.spans
                    if s.layer is not None and spans.inside(s, m) for j in charged.get(s.sid, [])]

    # tracing overhead: seconds per applied event, traced vs the untraced run
    # of the same workload and seed when one is on record
    overhead, basis = None, "no untraced run of this seed on record"
    ref = os.path.join(reports, f"{info['workload']}-s{info['seed']}-t0.json")
    if os.path.exists(ref):
        with open(ref) as fh:
            u = json.load(fh)
        if u.get("events"):
            overhead = (info["phase_s"] / info["events"]) / (u["phase_s"] / u["events"])
            basis = "phase seconds per event vs the untraced run of this seed"
    if overhead is None:
        hooks = spans.hook_s
        overhead = info["phase_s"] / max(1e-9, info["phase_s"] - hooks)
        basis = "tracer hook time only (" + basis + ")"

    tables, gaps, driver_only = [], [], 0.0
    for m in measured:
        rows = layer_table(spans, charged, m)
        gap = m.dur - sum(r["self_s"] for r in rows)
        gaps.append(gap / m.dur if m.dur else 0.0)
        driver_only += sum(r["driver_only_s"] for r in rows if r["layer"] not in BENCH_LAYERS)
        tables.append(render(info["workload"], m.name, m, rows, gap, overhead, basis))
    merge_lines = ["| merge call | events | matched | wall_s | jobs | tasks (status tracker) |",
                   "|---|---|---|---|---|---|"]
    for s in merges:
        merge_lines.append(f"| {s.sid} | {s.attrs.get('events')} | {s.attrs.get('matched_keys')} | "
                           f"{s.dur:.3f} | {s.attrs.get('jobs')} | {s.attrs.get('tasks')} |")
    report = "\n".join([f"## perfbench trace: {info['workload']} seed {info['seed']}", ""]
                       + tables + merge_lines + [""])

    v = {
        "sources.events": b.events_applied if b.json_bytes else 0,
        "sources.json_mb": b.json_bytes / 1e6,
        "merge.calls": len(merges),
        "merge.busy_s": busy("merge"),
        "merge.p50_s": median([s.dur for s in merges]),
        "merge.jobs_per_call": per_call(merges),
        "merge.tasks_per_call": per_call(merges, tasks=True),
        "merge.matched_keys": attr_sum(merges, "matched_keys"),
        "merge.probe_file_frac": sum(b.probe_frac) / len(b.probe_frac) if b.probe_frac else 0.0,
        "catalog.commits": len(meta.snapshots),
        "catalog.data_files": n_data,
        "catalog.delete_files": n_del,
        "catalog.manifests": len(snap.manifests) + len(snap.delete_manifests),
        "catalog.meta_read_p50_s": median(b.meta_read),
        "catalog.plan_p50_s": median([s.dur for s in calls("catalog.plan")]),
        "scan.full_p50_s": median([s.dur for s in calls("scan.full")]),
        "scan.range_p50_s": median([s.dur for s in calls("scan.range")]),
        "scan.lookup_p50_s": median([s.dur for s in calls("scan.lookup")]),
        "scan.range_file_frac": median([s.attrs["file_frac"] for s in calls("catalog.plan")
                                          if s.attrs.get("kind") == "range"]),
        "scan.lookup_file_frac": median([s.attrs["file_frac"] for s in calls("catalog.plan")
                                           if s.attrs.get("kind") == "lookup"]),
        "scan.delete_files": n_del,
        "scan.jobs_per_query": per_call(scans),
        "compact.calls": len(comp),
        "compact.busy_s": busy("compact"),
        "compact.mb_read": attr_sum(comp, "mb_read"),
        "compact.mb_written": attr_sum(comp, "mb_written"),
        "compact.files_in": attr_sum(comp, "files_in"),
        "compact.files_out": attr_sum(comp, "files_out"),
        "compact.jobs_per_call": per_call(comp),
        "compact.noop_calls": sum(1 for s in comp if not s.attrs.get("files_out")),
        "cluster_full.busy_s": sum(spans.self_time(s) for s in full),
        "cluster_full.mb_written": attr_sum(full, "mb_written"),
        "cluster_inc.calls": len(inc),
        "cluster_inc.busy_s": sum(spans.self_time(s) for s in inc),
        "cluster_inc.mb_written": attr_sum(inc, "mb_written"),
        "policy.due_frac": sum(b.policy_due) / len(b.policy_due) if b.policy_due else 0.0,
        "manifest_rewrite.busy_s": busy("manifest_rewrite"),
        "manifest_rewrite.manifests_out": len(snap.manifests),
        "expire.busy_s": busy("expire"),
        "expire.snapshots_removed": attr_sum(calls("expire"), "removed"),
        "sweep.busy_s": busy("sweep"),
        "sweep.files_removed": attr_sum(calls("sweep"), "removed"),
        "sweep.mb_freed": attr_sum(calls("sweep"), "mb_freed"),
        "export.calls": len(calls("export")),
        "export.p50_s": median([s.dur for s in calls("export")]),
        "export.busy_s": busy("export"),
        "mirror_expire.busy_s": busy("mirror_expire"),
        "writer.mb_written": sum(b.file_sizes) / 1e6,
        "writer.files_written": len(b.file_sizes),
        "writer.mean_file_mb": sum(b.file_sizes) / 1e6 / len(b.file_sizes) if b.file_sizes else 0.0,
        "session.start_s": info["session_s"],
        "warmup_s": info["warm_s"],
        "spark.jobs": len(all_measured),
        "spark.tasks": sum(j.tasks for j in all_measured),
        "spark.failed_tasks": sum(j.failed for j in all_measured),
        "spark.executor_run_s": sum(j.run_s for j in all_measured),
        "spark.cpu_s": sum(j.cpu_s for j in all_measured),
        "spark.gc_s": sum(j.gc_s for j in all_measured),
        "spark.shuffle_mb": sum(j.shuffle_mb for j in all_measured),
        "spark.spill_mb": sum(j.spill_mb for j in all_measured),
        "spark.driver_only_s": driver_only,
        "ops.attempted": b.attempted,
        "ops.failed": b.failed,
        "trace.overhead": overhead,
        "trace.gap_frac": max(gaps),
    }
    assert v.keys() == PER_LAYER_UNITS.keys()
    return {k: (float(x), PER_LAYER_UNITS[k]) for k, x in v.items()}, report
