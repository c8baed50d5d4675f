"""The replay oracle on hand-made changes (no Spark)."""

from maintbench import oracle
from maintbench.gen import Facts


def facts(clip: str, ts: int, text: str = "t", md5: str = "m") -> Facts:
    return Facts(clip, text, ts, 100, 8000, 10, md5)


def test_latest_change_per_key_wins():
    r = oracle.Replay()
    r.apply("r", facts("a", 1, "base"))
    r.apply("u", facts("a", 5, "new"))
    r.apply("u", facts("a", 3, "stale"))  # older than the row it would replace
    assert r.rows() == [("a", "new", 5, "m")]


def test_delete_removes_key_and_only_newer_change_revives_it():
    r = oracle.Replay()
    r.apply("r", facts("a", 1))
    r.apply("d", facts("a", 4))
    r.apply("u", facts("a", 2))  # before the delete: stays deleted
    assert r.rows() == []
    r.apply("c", facts("a", 9, "again"))
    assert r.rows() == [("a", "again", 9, "m")]


def test_digest_ignores_order_but_not_duplicates():
    rows = [("a", "x", 1, "m"), ("b", "y", 2, "n")]
    assert oracle.snapshot_of(rows).digest == oracle.snapshot_of(rows[::-1]).digest
    doubled = oracle.snapshot_of(rows + rows[:1])
    assert doubled.digest != oracle.snapshot_of(rows).digest
    assert "1 duplicated keys" in oracle.diff(oracle.snapshot_of(rows), doubled)


def test_diff_names_a_dropped_row():
    rows = [("a", "x", 1, "m"), ("b", "y", 2, "n")]
    msg = oracle.diff(oracle.snapshot_of(rows), oracle.snapshot_of(rows[:1]))
    assert msg.startswith("expected 2 rows, table has 1: 1 missing")
