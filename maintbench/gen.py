"""Seeded inputs for the benchmark: base-table row indices and CDC batches.

Every row handed to the engine is ``fixtures.audio_clips.clip_row(i, op,
seq, version)``, so its PCM bytes and transcript are a pure function of
the row index. A seed fixes everything the workloads feed the engine:
which keys a CDC batch touches, the batch makeup and the reader
predicates. ``Change`` records are the CDC log that the oracle replays.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

from olake_spark.fixtures.audio_clips import CLIP_SCHEMA, clip_row

COLUMNS = [c.strip().split(" ")[0] for c in CLIP_SCHEMA.split(",")]

#: CDC sequence numbers start above every base row's own sequence
#: (base row i is committed with sequence i), and grow by one per
#: change, so "latest change per key" is a strict order across batches
CDC_SEQ_START = 10_000_000


@dataclass(frozen=True)
class Change:
    index: int
    op: str  # "r" base, "c" insert, "u" update, "d" delete
    seq: int
    version: int


@dataclass(frozen=True)
class Facts:
    """What the oracle knows about one emitted row, derived from the
    same ``clip_row`` tuple the engine receives."""

    clip_id: str
    transcript: str
    ts_s: int  # _cdc_timestamp as epoch seconds
    dur_ms: int
    sr_hz: int
    n_bytes: int
    md5: str


FACT_SCHEMA = (
    "clip_id string, transcript string, ts_s long, dur_ms int, sr_hz int, "
    "n_bytes long, md5 string"
)
FACT_FIELDS = [c.strip().split(" ")[0] for c in FACT_SCHEMA.split(",")]


def row_facts(row: tuple) -> Facts:
    return Facts(
        clip_id=row[0],
        transcript=row[5],
        ts_s=int(row[7].timestamp()),
        dur_ms=row[3],
        sr_hz=row[2],
        n_bytes=len(row[1]),
        md5=hashlib.md5(row[1]).hexdigest(),
    )


def change_row(c: Change) -> tuple:
    return clip_row(c.index, op=c.op, cdc_seq=c.seq, version=c.version)


def user_bytes(row: tuple) -> int:
    """Bytes a user hands the engine for one CDC row: PCM payload plus
    string columns plus 48 bytes for the fixed-width columns and key."""
    return len(row[1]) + len(row[0]) + len(row[4]) + len(row[5]) + len(row[6]) + 48


class CdcStream:
    """Generates CDC batches over a keyed table whose live key set it
    tracks, so updates and deletes always name live keys and inserts
    always name new ones.

    ``recent_bias``: share of update/delete keys drawn from the newest
    ``recent_frac`` of live keys (by row index); the rest are uniform.
    """

    def __init__(
        self,
        rng: random.Random,
        live: list[int],
        next_index: int,
        batch_rows: int,
        mix: dict[str, float],
        dup_keys: int,
        recent_bias: float = 0.0,
        recent_frac: float = 0.25,
    ):
        self.rng = rng
        self.live = sorted(live)
        self.live_set = set(live)
        self.next_index = next_index
        self.batch_rows = batch_rows
        self.mix = mix
        self.dup_keys = dup_keys
        self.recent_bias = recent_bias
        self.recent_frac = recent_frac
        self.seq = CDC_SEQ_START
        self.batch_no = 0

    def _pick(self, taken: set[int]) -> int:
        n = len(self.live)
        while True:
            if self.rng.random() < self.recent_bias:
                lo = int(n * (1.0 - self.recent_frac))
                i = self.live[self.rng.randrange(lo, n)]
            else:
                i = self.live[self.rng.randrange(n)]
            if i not in taken:
                return i

    def _next_seq(self) -> int:
        self.seq += 1
        return self.seq

    def take_seqs(self, n: int) -> int:
        """Reserve ``n`` sequence numbers (for appended rows); returns the first."""
        first = self.seq + 1
        self.seq += n
        return first

    def next_batch(self) -> list[Change]:
        self.batch_no += 1
        v = self.batch_no
        n_upd = round(self.batch_rows * self.mix["u"])
        n_del = round(self.batch_rows * self.mix["d"])
        n_ins = self.batch_rows - n_upd - n_del
        taken: set[int] = set()
        changes: list[Change] = []
        upd = []
        for _ in range(n_upd):
            i = self._pick(taken)
            taken.add(i)
            upd.append(i)
        dels = []
        for _ in range(n_del):
            i = self._pick(taken)
            taken.add(i)
            dels.append(i)
        for k, i in enumerate(upd):
            changes.append(Change(i, "u", self._next_seq(), v))
            if k < self.dup_keys:
                # the same key twice in one batch: the later change wins
                changes.append(Change(i, "u", self._next_seq(), v + 100_000))
        for i in dels:
            changes.append(Change(i, "d", self._next_seq(), 0))
        for _ in range(n_ins):
            changes.append(Change(self.next_index, "c", self._next_seq(), 0))
            self.next_index += 1
        self.rng.shuffle(changes)
        for c in changes:
            self.apply_live(c)
        return changes

    def apply_live(self, c: Change) -> None:
        if c.op == "d":
            if c.index in self.live_set:
                self.live_set.discard(c.index)
                self.live.remove(c.index)
        else:
            self.add_live(c.index)

    def add_live(self, i: int) -> None:
        if i not in self.live_set:
            self.live_set.add(i)
            self.live.append(i)  # new indices are the largest


@dataclass(frozen=True)
class Readers:
    """One reader set: a point lookup of ``keys`` by ``_olake_id`` and a
    ``dur_ms``/``sr_hz`` range aggregate over the PCM bytes."""

    keys: tuple[str, ...]  # clip ids
    dur_lo: int
    dur_hi: int
    sr_hz: int


def pick_readers(rng: random.Random, live: list[int], n_keys: int) -> Readers:
    idx = rng.sample(live, min(n_keys, len(live)))
    # one key that never existed: a lookup must also find nothing
    keys = tuple(sorted(f"clip_{i:012d}" for i in idx)) + (f"clip_{10**11 + rng.randrange(10**6):012d}",)
    lo = rng.randrange(40, 300)
    return Readers(keys=keys, dur_lo=lo, dur_hi=lo + 60, sr_hz=rng.choice([8000, 16000, 22050, 44100]))
