"""The commit log — the store's one commit mechanism, free of renames and
symlinks (streaming/store.py).

Committing version N = EXCLUSIVE CREATE of ``_commits/c-<N>`` (put-if-absent
on an object store); readers resolve the highest INTACT entry. These tests
pin the mechanics: crash fallback on torn top entries, the fresh-vs-corrupt
rule for a log with no intact entry, the exclusive-create single-writer
check, log GC, and the partitioned-merge integration, with os.replace and
os.symlink refused where the whole commit path runs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F  # noqa: F401  (parity with suite style)

import scraper_db_refine_merge_spark.streaming.store as st
from scraper_db_refine_merge_spark.operators.merge import (
    merge_upsert_partitioned,
    read_partitioned_table,
    resolve_partitioned_path,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def _rows(spark, target):
    return {tuple(r) for r in st.store_read(spark, target).collect()}


@pytest.fixture
def no_replace(monkeypatch):
    """Simulate an object store: os.replace (atomic rename) unavailable."""
    def refuse(*a, **k):
        raise OSError("atomic rename not supported on this filesystem")

    monkeypatch.setattr(os, "replace", refuse)


def test_cas_commit_roundtrip_and_log_gc(spark, tmp_path):
    target = str(tmp_path / "s")
    st.store_commit(_df(spark, [("a", 1)]), target)
    assert [s for s, _ in st._commitlog_entries(target)] == [1]
    assert _rows(spark, target) == {("a", 1)}

    st.store_commit(_df(spark, [("a", 2)]), target)
    assert _rows(spark, target) == {("a", 2)}
    # superseded entry GC'd; one live entry at the committed seq
    assert [s for s, _ in st._commitlog_entries(target)] == [2]
    # retention: seq-1 snapshot GC'd with keep=1
    assert [s for s, _ in st.store_versions(target)] == [2]


def test_torn_top_log_entry_falls_back_to_previous_commit(spark, tmp_path):
    """A crashed CAS writer leaves an empty/dangling top entry; readers
    fall back to the last intact entry (append-only crash semantics), and
    the next commit clears the torn orphan at its seq."""
    target = str(tmp_path / "s")
    st.store_commit(_df(spark, [("a", 1)]), target)
    log_dir = os.path.join(target, st._COMMITLOG)
    open(os.path.join(log_dir, "c-000002"), "w").close()  # torn: empty
    assert _rows(spark, target) == {("a", 1)}
    # dangling content is equally torn
    with open(os.path.join(log_dir, "c-000002"), "w") as f:
        f.write("v-000002-deadbeef")
    assert _rows(spark, target) == {("a", 1)}

    st.store_commit(_df(spark, [("a", 2)]), target)
    assert _rows(spark, target) == {("a", 2)}


def test_empty_first_log_entry_reads_as_fresh(spark, tmp_path):
    """A first commit torn between the exclusive create and its content
    leaves an empty ``c-000001`` and no snapshot: the store is fresh, and
    the next commit takes seq 1 over the torn entry."""
    target = str(tmp_path / "s")
    os.makedirs(os.path.join(target, st._COMMITLOG))
    open(os.path.join(target, st._COMMITLOG, "c-000001"), "w").close()
    assert st.store_read(spark, target) is None
    st.store_commit(_df(spark, [("a", 1)]), target)
    assert _rows(spark, target) == {("a", 1)}
    assert [s for s, _ in st._commitlog_entries(target)] == [1]


def test_cas_exclusive_create_rejects_competing_writer(spark, tmp_path):
    """Two writers deriving the same next seq from the same prior snapshot:
    the loser's conditional put fails BEFORE its state becomes visible."""
    target = str(tmp_path / "s")
    st.store_commit(_df(spark, [("a", 1)]), target)
    # competitor committed seq 2 first: intact entry naming a real dir
    os.makedirs(os.path.join(target, "v-000002-feedface"))
    open(os.path.join(target, "v-000002-feedface", "_x"), "w").close()
    with open(os.path.join(target, st._COMMITLOG, "c-000002"), "w") as f:
        f.write("v-000002-feedface")
    with pytest.raises(st.StoreConcurrentWriterError):
        st.put_pointer(target, "v-000002-00000000")


def test_store_commit_parts_and_compact_under_cas(spark, tmp_path, no_replace):
    """The manifest/parts machinery (fold-index substrate) runs rename-free
    end to end: incremental parts, replace_parts rewrite, compaction."""
    target = str(tmp_path / "s")
    st.store_commit_parts({"t": _df(spark, [("a", 1)])}, target)
    st.store_commit_parts({"t": _df(spark, [("b", 2)])}, target)
    got = {tuple(r) for r in st.store_read_part(spark, target, "t").collect()}
    assert got == {("a", 1), ("b", 2)}
    st.store_compact(spark, target)
    got = {tuple(r) for r in st.store_read_part(spark, target, "t").collect()}
    assert got == {("a", 1), ("b", 2)}


def _mk_batch(spark, rows):
    return spark.createDataFrame(rows, "event_id string, day string, value double")


def test_partitioned_merge_rename_and_symlink_free(spark, tmp_path, no_replace, monkeypatch):
    """The full object-store commit path: manifest views (no symlinks) +
    the commit log (no renames). Two upserts, latest-wins read-back, one
    live log entry."""
    def refuse(*a, **k):
        raise OSError("symlinks not supported")

    monkeypatch.setattr(os, "symlink", refuse)
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 1.0), ("e2", "d2", 2.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 10.0), ("e3", "d3", 3.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert len(st._commitlog_entries(target)) == 1
    got = {tuple(r) for r in read_partitioned_table(spark, target).collect()}
    assert got == {("e1", 10.0, "d1"), ("e2", 2.0, "d2"), ("e3", 3.0, "d3")}
    assert resolve_partitioned_path(target).startswith(
        os.path.join(target, "v-")
    )


def test_partitioned_merge_crash_before_cas_put_leaves_previous_snapshot(
    spark, tmp_path, no_replace, monkeypatch
):
    """Crash injection at the CAS boundary: dying just before the
    conditional put leaves readers on the previous snapshot; the next
    successful merge GCs the orphaned view/data."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target, _mk_batch(spark, [("e1", "d1", 1.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    before = {tuple(r) for r in read_partitioned_table(spark, target).collect()}

    real_put = st.put_pointer

    def crash(*a, **k):
        raise RuntimeError("injected crash before pointer put")

    monkeypatch.setattr(st, "put_pointer", crash)
    with pytest.raises(RuntimeError, match="injected"):
        merge_upsert_partitioned(
            spark, target, _mk_batch(spark, [("e1", "d1", 99.0)]),
            key_cols=["event_id"], partition_col="day",
        )
    assert {tuple(r) for r in read_partitioned_table(spark, target).collect()} == before

    monkeypatch.setattr(st, "put_pointer", real_put)
    merge_upsert_partitioned(
        spark, target, _mk_batch(spark, [("e1", "d1", 5.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    got = {tuple(r) for r in read_partitioned_table(spark, target).collect()}
    assert got == {("e1", 5.0, "d1")}
    assert len([d for d in os.listdir(target) if d.startswith("v-")]) == 1
    assert len(os.listdir(os.path.join(target, "data"))) == 1
