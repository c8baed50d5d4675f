"""Per-layer metrics of a traced run: names, units and aggregation.

The smoke test checks the names and units against ``BENCHMARK.json``.
README.md maps each per-layer metric to the end-to-end metric it should
move, and on which workload.
"""

from __future__ import annotations

import statistics

from maintbench.tracing import OpSpark, Tracer
from maintbench.workloads import GROUP_PREFIX, Bench

#: per-layer metrics taken from trace spans: (span name, count field or
#: None for the span's duration, unit). Per operation the span values
#: are summed; the metric is the median over the operations that
#: reached the layer, 0 when none did.
SPAN_METRICS = {
    "merge.prune_s": ("merge.prune", None, "s"),
    "merge.files_affected": ("merge.prune", "files_affected", "count"),
    "merge.data_files": ("merge.prune", "data_files", "count"),
    "bloom.probe_s": ("bloom.probe", None, "s"),
    "bloom.files_probed": ("bloom.probe", "files_probed", "count"),
    "bloom.files_kept": ("bloom.probe", "files_kept", "count"),
    "format.commit_s": ("format.commit", None, "s"),
    "format.commits": ("format.commit", "commits", "count"),
    "format.commit_attempts": ("format.commit", "commit_attempts", "count"),
    "format.manifest_read_s": ("format.manifest_read", None, "s"),
    "format.manifests_read": ("format.manifest_read", "manifests_read", "count"),
    "table.write_s": ("table.write", None, "s"),
    "table.files_written": ("table.write", "files_written", "count"),
    "table.bytes_written": ("table.write", "bytes_written", "bytes"),
    "stats.harvest_s": ("stats.harvest", None, "s"),
    "table.scan_plan_s": ("table.scan_plan", None, "s"),
    "table.files_scanned": ("table.scan_plan", "files_scanned", "count"),
    "table.delete_files_scanned": ("table.scan_plan", "delete_files_scanned", "count"),
    "compaction.plan_s": ("compaction.plan", None, "s"),
}

#: per-layer metrics of the top-level maintenance operators, which the
#: benchmark calls itself: (operation name, result field or None for
#: its wall time, unit); median over the workload's calls, 0 when none
OPERATOR_METRICS = {
    "compaction.s": ("compact", None, "s"),
    "compaction.files_in": ("compact", "files_in", "count"),
    "compaction.files_out": ("compact", "files_out", "count"),
    "clustering.s": ("cluster", None, "s"),
    "clustering.file_bytes_max_over_median": ("cluster", "file_bytes_max_over_median", "ratio"),
    "manifests.s": ("rewrite_manifests", None, "s"),
    "expire.s": ("expire", None, "s"),
    "expire.files_deleted": ("expire", "files_deleted", "count"),
    "gc.s": ("gc", None, "s"),
    "gc.files_removed": ("gc", "files_removed", "count"),
}

#: Spark side per operation kind (merge, read, maint): median over the
#: workload's operations of that kind, where all operations of one
#: maintenance step count as one
SPARK_FIELDS = {
    "jobs": "count",
    "tasks": "count",
    "task_busy_s": "s",
    "shuffle_bytes": "bytes",
    "driver_only_s": "s",
}
SPARK_KINDS = ("merge", "read", "maint")

#: the traced run's own end-to-end numbers; against the untraced
#: medians they give the tracing overhead
TRACED_E2E = ("merge_p50_s", "read_p50_s", "maintenance_s")


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(bench: Bench, tracer: Tracer, spark_ops: dict[str, OpSpark],
              traced_e2e: dict[str, tuple[float, str]]) -> dict[str, tuple[float, str]]:
    ops = {o.op_id: o for o in bench.ops if o.ok}
    per_op: dict[tuple[str, str | None], dict[int, float]] = {}
    for s in tracer.spans:
        if s.op not in ops:
            continue
        dur = per_op.setdefault((s.name, None), {})
        dur[s.op] = dur.get(s.op, 0.0) + (s.end - s.start)
        for k, v in s.counts.items():
            d = per_op.setdefault((s.name, k), {})
            d[s.op] = d.get(s.op, 0.0) + v

    out: dict[str, tuple[float, str]] = {}
    for name, (span, fld, unit) in SPAN_METRICS.items():
        out[name] = (_median(per_op.get((span, fld), {}).values()), unit)
    aff = per_op.get(("merge.prune", "files_affected"), {})
    tot = per_op.get(("merge.prune", "data_files"), {})
    out["merge.files_touched_share"] = (
        _median(aff[o] / tot[o] for o in aff if tot.get(o)), "ratio")
    for name, (op_name, fld, unit) in OPERATOR_METRICS.items():
        vals = [o.secs if fld is None else o.info[fld] for o in ops.values() if o.name == op_name]
        out[name] = (_median(vals), unit)
    for kind in SPARK_KINDS:
        # one unit per operation; a maintenance step's operations add up
        units: dict[object, list] = {}
        for o in ops.values():
            if o.kind == kind:
                sp = spark_ops.get(f"{GROUP_PREFIX}{o.op_id}", OpSpark())
                units.setdefault(("step", o.step) if o.step else o.op_id, []).append((o, sp))
        for fld, unit in SPARK_FIELDS.items():
            if fld == "driver_only_s":
                vals = [sum(max(0.0, o.secs - sp.job_s) for o, sp in u) for u in units.values()]
            else:
                vals = [sum(getattr(sp, fld) for _o, sp in u) for u in units.values()]
            out[f"spark.{kind}.{fld}"] = (_median(vals), unit)
    for m in TRACED_E2E:
        out[f"tracing.{m}"] = traced_e2e[m]
    return out
