"""The three workloads, driven only through the engine's public functions.

Every measured operation runs through ``Bench.op``, which times it,
gives it its own Spark job group and opens its trace span. Inputs are
generated and checked outside the timed region.

- ``cdc_cow``: one writer applies small CDC batches back to back with
  ``merge_into`` (copy-on-write) to a table built in ingest waves with
  key-bloom sidecars. Keys lean toward recently ingested rows. The
  reader set runs after each batch; expiry plus a manifest rewrite runs
  every few batches.
- ``mor_read``: one writer applies uniform-key batches with
  ``merge_mor``; after each batch the reader set runs, and
  ``fold_deletes`` runs every few batches.
- ``maintenance``: a fragmented table takes a day of streaming ingest
  (small appends, merge-on-read batches, one crashed write), then one
  full maintenance cycle with the reader set before and after.
"""

from __future__ import annotations

import contextlib
import gc
import hashlib
import json
import os
import random
import statistics
import time
import zlib
from dataclasses import astuple, dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from maintbench import oracle
from maintbench.gen import (
    COLUMNS,
    FACT_FIELDS,
    FACT_SCHEMA,
    CdcStream,
    Facts,
    Readers,
    change_row,
    pick_readers,
    row_facts,
    user_bytes,
)
from olake_spark.fixtures.audio_clips import CLIP_SCHEMA, FULL_SCHEMA, clip_row
from olake_spark.operators.clustering import cluster
from olake_spark.operators.compaction import compact
from olake_spark.operators.expire import expire_snapshots
from olake_spark.operators.gc import remove_orphan_files
from olake_spark.operators.manifests import rewrite_manifests
from olake_spark.operators.merge import fold_deletes, merge_into, merge_mor
from olake_spark.table.table import Table

GROUP_PREFIX = "maintbench-op-"
#: merge and read latency tails are reported at this percentile
TAIL_PCT = 75
#: size-derived PCM weight, so clustering's boundary sample skips the payload
PCM_WEIGHT = "cast(dur_ms as bigint) * sr_hz / 500 + 64"
#: rows of the untimed warm-up table built first in every run: the JVM's
#: code generation and the Python workers' start-up for the write path
#: happen there, not in the timed set-up
WARM_ROWS = 200
#: untimed pause, after a full garbage collection, before each
#: maintenance step. A ``cdc_cow`` step is
#: about 25 ms of driver-side metadata work; right after the reader set
#: the JVM is still busy with what its Spark jobs left behind, and that
#: work, competing for the same cores, made the step's time swing by
#: more than a quarter from run to run
SETTLE_S = 0.5

#: ``batch_rows`` is 5% of the base rows and ``dup_keys`` 10 (1 at tiny
#: size), as in bench.py's CDC batches. ``recent_bias`` (the share of
#: update/delete keys drawn from the newest quarter of live keys) is an
#: assumption. ``batches_per_s``: the CDC workloads apply
#: ``round(seconds * batches_per_s)`` batches, a fixed amount of work for
#: a given ``--seconds``, so a slow host measures the same work with the
#: same number of samples. ``lead_batches`` are applied first, exactly
#: like the measured ones but untimed: the first one warms up the merge
#: and read paths, and the CoW rewrites coalesce the base table's
#: ingest-wave files into target-size files over the first few batches
#: (how many depends on the seed), so the measured batches start from a
#: table near its steady layout
SIZES = {
    "full": {
        "cdc_cow": dict(rows=1500, waves=2, groups=6, target_mb=4, builds=2,
                        batch_rows=32, dup_keys=2, recent_bias=0.7,
                        lead_batches=2, batches_per_s=0.4, maint_every=1, reader_keys=8),
        "mor_read": dict(rows=1500, waves=2, groups=6, target_mb=4, builds=2,
                         batch_rows=32, dup_keys=2, recent_bias=0.0,
                         lead_batches=2, batches_per_s=0.4, fold_every=2, reader_keys=8),
        "maintenance": dict(rows=3000, waves=1, groups=12, target_mb=8, builds=2,
                            appends=1, append_rows=150, mor_batches=3,
                            batch_rows=64, dup_keys=2, reader_keys=8),
    },
    "tiny": {
        "cdc_cow": dict(rows=240, waves=2, groups=3, target_mb=1, builds=2,
                        batch_rows=12, dup_keys=1, recent_bias=0.7,
                        lead_batches=1, batches_per_s=1.5, maint_every=2, reader_keys=4),
        "mor_read": dict(rows=240, waves=2, groups=3, target_mb=1, builds=2,
                         batch_rows=12, dup_keys=1, recent_bias=0.0,
                         lead_batches=1, batches_per_s=1.5, fold_every=2, reader_keys=4),
        "maintenance": dict(rows=480, waves=2, groups=4, target_mb=1, builds=2,
                            appends=2, append_rows=20, mor_batches=2,
                            batch_rows=24, dup_keys=1, reader_keys=4),
    },
}

#: updates : deletes : inserts = 2 : 1 : 1, the proportions of the CDC
#: batches bench.py builds with ``fixtures.audio_clips.cdc_batch``
MIX = {"u": 0.5, "d": 0.25}  # rest inserts


class RunFailed(Exception):
    """An operation raised or a correctness check failed."""


@dataclass
class OpRecord:
    op_id: int
    kind: str  # merge | read | maint | ingest
    name: str
    secs: float = 0.0
    ok: bool = True
    step: int = 0  # the maintenance step the operation belongs to, if any
    info: dict = field(default_factory=dict)


class Bench:
    def __init__(self, spark, work_dir: str, workload: str, seed: int, seconds: float,
                 size: str, tracer, corrupt: str | None = None):
        self.spark = spark
        self.work_dir = work_dir
        self.workload = workload
        self.seconds = seconds
        self.cfg = SIZES[size][workload]
        self.tracer = tracer
        self.corrupt = corrupt
        self.rng = random.Random(seed * 1_000_003 + zlib.crc32(workload.encode()))
        self.ops: list[OpRecord] = []
        self.checks = 0
        self.errors: list[str] = []
        self.setup_s: list[float] = []
        self.cdc_rows = 0
        self.cdc_user_bytes = 0
        self.bytes_written = 0
        self.amp_base = 0  # user bytes the written bytes are divided by
        self.space_amp = 0.0
        self.cycle_s: list[float] = []
        self.read_s: list[float] = []  # one value per reader set
        self._seen_files: dict[str, dict[str, int]] = {}
        self._tables = 0
        self._next_op = 0
        self._step = 0
        self._in_step = 0
        self.phases: dict[str, float] = {}
        self._phase_t = time.perf_counter()

    # ------------------------------------------------------------ plumbing

    @contextlib.contextmanager
    def op(self, kind: str, name: str):
        self._next_op += 1
        rec = OpRecord(self._next_op, kind, name, step=self._in_step)
        self.spark.sparkContext.setJobGroup(f"{GROUP_PREFIX}{rec.op_id}", name)
        self.tracer.begin_op(rec.op_id)
        try:
            with self.tracer.span(f"op.{name}") as counts:
                t0 = time.perf_counter()
                yield rec.info
                rec.secs = time.perf_counter() - t0
                counts.update(rec.info)
        except Exception as e:
            rec.ok = False
            self.errors.append(f"{name} raised {e!r}")
            raise RunFailed(self.errors[-1]) from e
        finally:
            self.tracer.end_op()
            self.spark.sparkContext.setJobGroup("maintbench-aux", "not measured")
            self.ops.append(rec)

    @contextlib.contextmanager
    def step(self):
        """One maintenance step (the unit ``maintenance_s`` times). Its
        time is the sum of its operations' times, so the benchmark's own
        work between them (job-group calls, write accounting) is left out."""
        gc.collect()
        time.sleep(SETTLE_S)
        self._step += 1
        self._in_step = step = self._step
        try:
            yield
        finally:
            self._in_step = 0
        self.cycle_s.append(sum(o.secs for o in self.ops if o.step == step))

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.checks += 1
        if not ok:
            self.errors.append(f"{what}: {detail}")
            raise RunFailed(self.errors[-1])

    def rows_df(self, lo: int, hi: int, parts: int, seq0: int | None = None):
        """Rows ``lo..hi-1`` generated on the executors. Row i is committed
        with sequence ``seq0 + i - lo``, or i itself for base rows."""

        def gen(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    [clip_row(int(i), cdc_seq=None if seq0 is None else seq0 + int(i) - lo)
                     for i in pdf["id"]],
                    columns=COLUMNS,
                )

        return (
            self.spark.range(lo, hi, numPartitions=parts)
            .mapInPandas(gen, CLIP_SCHEMA)
            .withColumn("_olake_id", F.md5("clip_id"))
        )

    def batch_df(self, changes):
        rows = [change_row(c) for c in changes]
        df = self.spark.createDataFrame(pd.DataFrame(rows, columns=COLUMNS), CLIP_SCHEMA)
        return df.withColumn("_olake_id", F.md5("clip_id")), rows

    def new_table(self, bloom: bool) -> Table:
        self._tables += 1
        props = {
            "write.target-file-size-bytes": str(self.cfg["target_mb"] << 20),
            "stats.columns": json.dumps(["_olake_id", "dur_ms", "sr_hz"]),
        }
        if bloom:
            props["write.bloom.column"] = "_olake_id"
        loc = os.path.join(self.work_dir, f"table{self._tables}")
        return Table.create(self.spark, loc, f"bench{self._tables}", FULL_SCHEMA,
                            identifier_fields=["_olake_id"], properties=props)

    def build_base(self, bloom: bool, warm: bool = False) -> Table:
        """Base table in ingest waves; each wave's files split the md5 key
        space into ``groups`` ranges, so files of one wave do not overlap
        but every wave overlaps every other (a bloom is what prunes).
        ``warm``: the one-wave WARM_ROWS table instead."""
        c = self.cfg
        t = self.new_table(bloom)
        waves, per, g = (1, WARM_ROWS, 2) if warm else (c["waves"], c["rows"] // c["waves"], c["groups"])
        for w in range(waves):
            df = self.rows_df(w * per, (w + 1) * per, 4).withColumn(
                "__rid",
                (F.conv(F.substring("_olake_id", 1, 4), 16, 10).cast("long") * g / 65536).cast("int"),
            )
            t.commit_append(t.write_datafiles(df, fanout_col="__rid", num_groups=g,
                                              sort_within=["_olake_id"]))
        return t

    def base_replay(self) -> oracle.Replay:
        """Expected base rows. Each row's facts come straight from
        ``clip_row`` and ``hashlib``; Spark only spreads that work over
        the cores, and every index must come back exactly once."""
        n = self.cfg["rows"] // self.cfg["waves"] * self.cfg["waves"]

        def gen(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    [(int(i), *astuple(row_facts(clip_row(int(i))))) for i in pdf["id"]],
                    columns=["i", *FACT_FIELDS],
                )

        pdf = (
            self.spark.range(n, numPartitions=4)
            .mapInPandas(gen, "i long, " + FACT_SCHEMA)
            .toPandas()
        )
        if sorted(pdf["i"]) != list(range(n)):
            raise RuntimeError("base facts: row indices missing or repeated")
        r = oracle.Replay()
        for rec in pdf[FACT_FIELDS].itertuples(index=False):
            r.apply("r", Facts(*(x.item() if hasattr(x, "item") else x for x in rec)))
        return r

    def timed_setups(self, bloom: bool) -> Table:
        """Build the warm-up table (untimed), then build the base table
        ``builds`` times, timing each build, and return the last one."""
        self.build_base(bloom, warm=True)
        self.phase("warm_up")
        for _ in range(self.cfg["builds"]):
            t0 = time.perf_counter()
            table = self.build_base(bloom)
            self.setup_s.append(time.perf_counter() - t0)
        return table

    def track_writes(self, table: Table) -> int:
        """Bytes of data and delete files that appeared since the last
        call for this table (bloom sidecars and metadata excluded)."""
        seen = self._seen_files.setdefault(table.location, {})
        new = 0
        for root, _dirs, files in os.walk(os.path.join(table.location, "data")):
            for f in files:
                if f.endswith(".parquet") and not f.startswith("."):
                    p = os.path.join(root, f)
                    if p not in seen:
                        seen[p] = os.path.getsize(p)
                        new += seen[p]
        return new

    def measure_space(self, table: Table) -> float:
        total = 0
        for root, _dirs, files in os.walk(table.location):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        live = sum(e.file_size_bytes for e in table.data_entries())
        return total / live

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase mark (for the log)."""
        now = time.perf_counter()
        self.phases[name] = now - self._phase_t
        self._phase_t = now

    def start_measuring(self) -> float:
        """Forget what set-up and warm-up did; returns the start time."""
        self.phase("setup")
        self.ops.clear()
        self.tracer.reset()
        self.cdc_rows = self.cdc_user_bytes = self.bytes_written = 0
        self.cycle_s.clear()
        self.read_s.clear()

    # ------------------------------------------------------------ readers

    def run_readers(self, table: Table, r: Readers, replay: oracle.Replay | None):
        """Run the reader set; its two queries' time is one ``read_s`` value."""
        ids = [hashlib.md5(k.encode()).hexdigest() for k in r.keys]
        with self.op("read", "read_point"):
            got_pt = table.scan().where(F.col("_olake_id").isin(ids)).select(
                "clip_id", "transcript", F.col("_cdc_timestamp").cast("long").alias("ts")
            ).collect()
        point = sorted((x["clip_id"], x["transcript"], int(x["ts"])) for x in got_pt)
        if replay is not None:
            want = replay.point(r)
            self.check("point lookup", point == want, f"got {point[:3]}, want {want[:3]}")
        with self.op("read", "read_range"):
            agg = (
                table.scan()
                .where(F.col("dur_ms").between(r.dur_lo, r.dur_hi) & (F.col("sr_hz") == r.sr_hz))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.coalesce(F.sum(F.length("bytes")), F.lit(0)).alias("b"))
                .collect()[0]
            )
        rng_res = (int(agg["n"]), int(agg["b"]))
        self.read_s.append(sum(o.secs for o in self.ops[-2:]))
        if replay is not None:
            want_rng = replay.range_agg(r)
            self.check("range aggregate", rng_res == want_rng, f"got {rng_res}, want {want_rng}")
        return point, rng_res

    def table_snapshot(self, table: Table) -> oracle.Snapshot:
        pdf = table.scan().select(
            "clip_id", "transcript",
            F.col("_cdc_timestamp").cast("long").alias("ts"),
            F.md5("bytes").alias("h"),
        ).toPandas()
        return oracle.snapshot_of(
            zip(pdf["clip_id"], pdf["transcript"], (int(x) for x in pdf["ts"]), pdf["h"])
        )

    def check_table(self, table: Table, replay: oracle.Replay, what: str) -> oracle.Snapshot:
        got = self.table_snapshot(table)
        problem = oracle.diff(replay.snapshot(), got)
        self.check(what, not problem, problem)
        return got

    def apply_corruption(self, table: Table) -> None:
        """Damage a finished table behind the engine's back, so the test
        can show the oracle catches it."""
        if self.corrupt == "drop_row":
            import pyarrow.parquet as pq

            e = max(table.data_entries(), key=lambda e: e.record_count)
            path = table.abs_entry_path(e)
            pq.write_table(pq.read_table(path).slice(1), path,
                           use_deprecated_int96_timestamps=True)  # as Spark writes them
            # drop the writer's checksum too, so the damage is silent
            crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
        elif self.corrupt == "readd_file":
            live = table.live_paths()
            for s in reversed(table.meta.snapshots):
                gone = [e for e in table.entries(s.snapshot_id)
                        if e.path not in live and os.path.exists(table.abs_entry_path(e))]
                if gone:
                    table.commit_append([gone[0]])
                    return
            raise RuntimeError("no replaced data file left to re-add")

    # ------------------------------------------------------------ workloads

    def cdc_loop(self, mode: str) -> None:
        c = self.cfg
        apply = merge_into if mode == "cow" else merge_mor
        step_every = c["maint_every"] if mode == "cow" else c["fold_every"]
        n_base = c["rows"] // c["waves"] * c["waves"]

        def new_stream(rng, n_live, first_index):
            return CdcStream(rng, list(range(n_live)), first_index, c["batch_rows"],
                             MIX, c["dup_keys"], recent_bias=c["recent_bias"])

        table = self.timed_setups(mode == "cow")
        replay = self.base_replay()
        stream = new_stream(self.rng, n_base, 10**9)
        self.track_writes(table)
        n_batches = max(1, round(self.seconds * c["batches_per_s"]))
        # batches up to 0 are the untimed lead-in
        for batches in range(1 - c["lead_batches"], n_batches + 1):
            if batches == 1:
                self.start_measuring()
            changes = stream.next_batch()
            df, rows = self.batch_df(changes)
            with self.op("merge", apply.__name__) as info:
                apply(table, df)
            info["rows"] = len(rows)
            self.cdc_rows += len(rows)
            self.cdc_user_bytes += sum(user_bytes(r) for r in rows)
            for ch, row in zip(changes, rows):
                replay.apply(ch.op, row_facts(row))
            self.bytes_written += self.track_writes(table)
            self.run_readers(table, pick_readers(self.rng, stream.live, c["reader_keys"]), replay)
            if batches % step_every == 0:
                self.maintenance_step(table, mode)
                self.bytes_written += self.track_writes(table)
        if n_batches % step_every:
            # every run ends on an upkept table, so space_amp compares
            self.maintenance_step(table, mode)
            self.bytes_written += self.track_writes(table)
        self.amp_base = self.cdc_user_bytes
        self.phase("measured")
        if self.corrupt:
            self.apply_corruption(table)
        self.check_table(table, replay, "final table")
        self.space_amp = self.measure_space(table)
        self.phase("final_check")

    def maintenance_step(self, table: Table, mode: str) -> None:
        """The periodic upkeep of a CDC stream: expiry and a manifest
        rewrite after copy-on-write batches, a delete fold after
        merge-on-read batches."""
        with self.step():
            if mode == "cow":
                with self.op("maint", "expire") as info:
                    info.update(files_deleted=expire_snapshots(table, keep_last=2)["deleted_files"])
                with self.op("maint", "rewrite_manifests"):
                    rewrite_manifests(table)
            else:
                with self.op("maint", "fold_deletes"):
                    fold_deletes(table)

    def full_cycle(self, table: Table) -> None:
        with self.step():
            with self.op("maint", "compact") as info:
                m = compact(table)
                info.update(files_in=m["files_in"], files_out=m["files_out"])
            # cluster replaces compact's output and expiry deletes it, so
            # each rewrite's bytes are counted as soon as it has run
            self.bytes_written += self.track_writes(table)
            with self.op("maint", "cluster") as info:
                m = cluster(table, curve="zorder", row_weight=PCM_WEIGHT)
                info.update(file_bytes_max_over_median=m["skew_ratio"])
            self.bytes_written += self.track_writes(table)
            with self.op("maint", "rewrite_manifests"):
                rewrite_manifests(table)
            with self.op("maint", "expire") as info:
                info.update(files_deleted=expire_snapshots(table, keep_last=1)["deleted_files"])
            with self.op("maint", "gc") as info:
                m = remove_orphan_files(table, older_than_ms=int(time.time() * 1000))
                info.update(files_removed=m["deleted_files"] + m["deleted_manifests"])

    def ingest_day(self, table: Table, replay: oracle.Replay, stream: CdcStream) -> None:
        """A day of streaming ingest on top of the base: small appends,
        merge-on-read CDC batches and one write that crashed before its
        commit (debris for orphan-file GC)."""
        append_rows = self.cfg["append_rows"]
        for _ in range(self.cfg["appends"]):
            lo, seq0 = stream.next_index, stream.take_seqs(append_rows)
            stream.next_index += append_rows
            df = self.rows_df(lo, lo + append_rows, 2, seq0)
            with self.op("ingest", "append"):
                table.commit_append(table.write_datafiles(df))
            for i in range(lo, lo + append_rows):
                stream.add_live(i)
                if replay is not None:
                    replay.apply("r", row_facts(clip_row(i, cdc_seq=seq0 + i - lo)))
        for _ in range(self.cfg["mor_batches"]):
            changes = stream.next_batch()
            df, rows = self.batch_df(changes)
            with self.op("merge", "merge_mor") as info:
                merge_mor(table, df)
            info["rows"] = len(rows)
            self.cdc_rows += len(rows)
            self.cdc_user_bytes += sum(user_bytes(r) for r in rows)
            for ch, row in zip(changes, rows):
                replay.apply(ch.op, row_facts(row))
        lo = stream.next_index
        stream.next_index += append_rows
        with self.op("ingest", "crashed_write"):
            table.write_datafiles(self.rows_df(lo, lo + append_rows, 2))

    def maintenance(self) -> None:
        """The warm-up covers the write path only: the day and its cycle
        run as in a freshly started ingest-and-maintenance job."""
        c = self.cfg
        n_base = c["rows"] // c["waves"] * c["waves"]
        table = self.timed_setups(bloom=True)
        replay = self.base_replay()
        self.start_measuring()
        stream = CdcStream(self.rng, list(range(n_base)), 10**9, c["batch_rows"],
                           MIX, c["dup_keys"])
        self.ingest_day(table, replay, stream)
        readers = pick_readers(self.rng, stream.live, c["reader_keys"])
        before_reads = self.run_readers(table, readers, replay)
        before = self.check_table(table, replay, "table before the cycle")
        self.track_writes(table)
        self.amp_base = sum(e.file_size_bytes for e in table.data_entries())
        self.full_cycle(table)
        self.phase("measured")
        if self.corrupt:
            self.apply_corruption(table)
        after_reads = self.run_readers(table, readers, None)
        self.check("readers after the cycle", after_reads == before_reads,
                   f"{after_reads} != {before_reads}")
        after = self.table_snapshot(table)
        self.check("table after the cycle", after.digest == before.digest,
                   oracle.diff(before, after))
        self.space_amp = self.measure_space(table)
        self.phase("final_check")

    # ------------------------------------------------------------ metrics

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        merges = [o.secs for o in self.ops if o.kind == "merge" and o.ok]
        reads = self.read_s
        return {
            "setup_s": (statistics.median(self.setup_s), "s"),
            "merge_p50_s": (statistics.median(merges), "s"),
            "merge_tail_s": (percentile(merges, TAIL_PCT), "s"),
            "cdc_rows_per_s": (self.cdc_rows / sum(merges), "1/s"),
            "read_p50_s": (statistics.median(reads), "s"),
            "read_tail_s": (percentile(reads, TAIL_PCT), "s"),
            "maintenance_s": (statistics.median(self.cycle_s), "s"),
            "write_amp": (self.bytes_written / self.amp_base, "ratio"),
            "space_amp": (self.space_amp, "ratio"),
        }


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile, as numpy's default."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def run(bench: Bench) -> None:
    if bench.workload == "cdc_cow":
        bench.cdc_loop("cow")
    elif bench.workload == "mor_read":
        bench.cdc_loop("mor")
    else:
        bench.maintenance()
