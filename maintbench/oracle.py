"""Correctness oracle that does not use the engine.

The expected table is a replay of the CDC log over the base rows, in
plain Python: for every key the change with the latest
``_cdc_timestamp`` wins, and a delete removes the key. A table is
compared by row count and an order-independent digest of
``(clip_id, transcript, _cdc_timestamp, md5(bytes))``.

The engine side of a comparison is read with a plain Spark parquet
scan of the files the table lists (``Table.scan``), projected to those
four columns.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from maintbench.gen import Facts, Readers

Row = tuple[str, str, int, str]  # clip_id, transcript, ts_s, md5(bytes)


@dataclass
class Snapshot:
    count: int
    digest: str
    rows: list[Row]


def snapshot_of(rows) -> Snapshot:
    rows = sorted(rows)
    h = hashlib.sha256()
    for r in rows:
        h.update(f"{r[0]}|{r[1]}|{r[2]}|{r[3]}\n".encode())
    return Snapshot(len(rows), h.hexdigest(), rows)


class Replay:
    """Expected live rows, keyed by clip id."""

    def __init__(self):
        self.live: dict[str, Facts] = {}
        self.tomb: dict[str, int] = {}  # clip id -> timestamp of its delete

    def copy(self) -> "Replay":
        r = Replay()
        r.live = dict(self.live)
        r.tomb = dict(self.tomb)
        return r

    def apply(self, op: str, f: Facts) -> None:
        cur = self.live.get(f.clip_id)
        last = cur.ts_s if cur is not None else self.tomb.get(f.clip_id, -1)
        if f.ts_s <= last:
            return  # an older change never overrides a newer one
        if op == "d":
            self.live.pop(f.clip_id, None)
            self.tomb[f.clip_id] = f.ts_s
        else:
            self.live[f.clip_id] = f
            self.tomb.pop(f.clip_id, None)

    def rows(self) -> list[Row]:
        return [(f.clip_id, f.transcript, f.ts_s, f.md5) for f in self.live.values()]

    def snapshot(self) -> Snapshot:
        return snapshot_of(self.rows())

    def point(self, r: Readers) -> list[tuple]:
        out = []
        for k in r.keys:
            f = self.live.get(k)
            if f is not None:
                out.append((f.clip_id, f.transcript, f.ts_s))
        return sorted(out)

    def range_agg(self, r: Readers) -> tuple[int, int]:
        n = b = 0
        for f in self.live.values():
            if r.dur_lo <= f.dur_ms <= r.dur_hi and f.sr_hz == r.sr_hz:
                n += 1
                b += f.n_bytes
        return n, b


def diff(expected: Snapshot, actual: Snapshot) -> str:
    if expected.digest == actual.digest and expected.count == actual.count:
        return ""
    exp_ids = {r[0] for r in expected.rows}
    act_ids = {r[0] for r in actual.rows}
    dupes = len(actual.rows) - len(act_ids)
    missing = len(exp_ids - act_ids)
    extra = len(act_ids - exp_ids)
    changed = len(set(expected.rows) - set(actual.rows)) - missing
    return (
        f"expected {expected.count} rows, table has {actual.count}: "
        f"{missing} missing, {extra} unexpected, {changed} with other values, "
        f"{dupes} duplicated keys"
    )
