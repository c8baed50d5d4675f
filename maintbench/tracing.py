"""Per-layer tracing, done from the benchmark's own files.

``Tracer.install`` wraps each layer's public functions at the module
attribute the engine looks them up by, so an engine call made anywhere
below an operation is timed without changing the engine. Spans are
kept in memory: name, start, end, parent span and operation id. Counts
ride on the span that did the work. Spark's side of each operation
comes from the event log of the benchmark's session: every operation
runs under its own job group, and the log ties jobs and tasks to it.

``NullTracer`` has the same surface and does nothing; untraced runs
use it, so traced and untraced runs run the same benchmark code.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield {}

    def begin_op(self, op_id: int) -> None:
        pass

    def end_op(self) -> None:
        pass

    def reset(self) -> None:
        pass

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = 0
        self._paused = 0
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def begin_op(self, op_id: int) -> None:
        self._op = op_id

    def end_op(self) -> None:
        self._op = 0

    def reset(self) -> None:
        """Drop the spans recorded so far (set-up and warm-up)."""
        self.spans.clear()

    @contextlib.contextmanager
    def span(self, name: str):
        if self._paused or not self._op:
            yield {}
            return
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, self._op, parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s.counts
        finally:
            s.end = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def paused(self):
        """Work the tracer itself does (counting files) is not traced."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    # ------------------------------------------------------------ wrapping

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as counts:
                out = orig(*args, **kwargs)
            # counted after the span closed: the count's own manifest
            # reads are not the layer's time
            if count is not None and not tracer._paused and tracer._op:
                with tracer.paused():
                    count(counts, args, kwargs, out)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from olake_spark.operators import compaction, merge
        from olake_spark.table import bloom, stats
        from olake_spark.table import format as fmt
        from olake_spark.table.table import Table

        def pruned(c, a, kw, out):
            c["files_affected"] = len(out)
            c["data_files"] = len(a[0].data_entries())

        def probed(c, a, kw, out):
            c["files_probed"] = len(a[1])
            c["files_kept"] = len(out)

        def attempted(c, a, kw, out):
            c["commit_attempts"] = 1
            c["commits"] = int(bool(out))

        def written(c, a, kw, out):
            c["files_written"] = len(out)
            c["bytes_written"] = sum(e.file_size_bytes for e in out)

        def scanned(c, a, kw, out):
            t = a[0]
            snap = kw.get("snapshot_id", a[1] if len(a) > 1 else None)
            ents = kw.get("entries", a[2] if len(a) > 2 else None)
            if ents is None:
                ents = t.entries(snap)
            c["files_scanned"] = sum(1 for e in ents if e.content != fmt.CONTENT_DELETES)
            if kw.get("apply_deletes", a[3] if len(a) > 3 else True):
                c["delete_files_scanned"] = len(t.delete_entries(snap))

        self.wrap(merge, "affected_file_paths", "merge.prune", pruned)
        self.wrap(bloom, "probe_files", "bloom.probe", probed)
        self.wrap(fmt, "try_write_metadata", "format.commit", attempted)
        self.wrap(fmt, "write_manifest", "format.commit")
        self.wrap(fmt, "read_manifest", "format.manifest_read",
                  lambda c, a, kw, out: c.update(manifests_read=1))
        self.wrap(Table, "write_datafiles", "table.write", written)
        self.wrap(Table, "scan", "table.scan_plan", scanned)
        self.wrap(stats, "harvest", "stats.harvest")
        self.wrap(stats, "harvest_distributed", "stats.harvest")
        self.wrap(compaction, "plan_compaction", "compaction.plan")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ------------------------------------------------------------ output

    def self_time(self) -> dict[int, float]:
        kids: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent] = kids.get(s.parent, 0.0) + (s.end - s.start)
        return {s.sid: (s.end - s.start) - kids.get(s.sid, 0.0) for s in self.spans}

    def dump(self, path: str) -> None:
        own = self.self_time()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "op": s.op, "parent": s.parent,
                    "start": s.start, "end": s.end, "self_s": own[s.sid],
                    **s.counts,
                }) + "\n")


# ---------------------------------------------------------------- Spark side


@dataclass
class OpSpark:
    jobs: int = 0
    tasks: int = 0
    task_busy_s: float = 0.0
    shuffle_bytes: int = 0
    job_s: float = 0.0  # union of the op's job run intervals


def read_event_log(log_dir: str, group_prefix: str) -> dict[str, OpSpark]:
    """Per job group: jobs, tasks, task busy time, shuffle bytes written
    and the time any of its jobs ran. Call after the session stopped,
    so the log is complete."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    job_span: dict[int, list[float]] = {}
    out: dict[str, OpSpark] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not g.startswith(group_prefix):
                        continue
                    j = ev["Job ID"]
                    job_group[j] = g
                    job_span[j] = [ev["Submission Time"] / 1000.0, 0.0]
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, j)
                    out.setdefault(g, OpSpark()).jobs += 1
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
                    job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = stage_job.get(ev["Stage ID"])
                    if j is None:
                        continue
                    o = out[job_group[j]]
                    info = ev["Task Info"]
                    o.tasks += 1
                    o.task_busy_s += (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    sw = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
                    o.shuffle_bytes += int(sw.get("Shuffle Bytes Written", 0))
    by_group: dict[str, list[list[float]]] = {}
    for j, g in job_group.items():
        by_group.setdefault(g, []).append(job_span[j])
    for g, spans in by_group.items():
        total, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(spans):
            hi = max(hi, lo)
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        out[g].job_s = total
    return out
