"""Partition-pruned MERGE: only touched partitions are rewritten, and every
commit is one commit-log entry over an immutable manifest view."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import scraper_db_refine_merge_spark.operators.merge as m
from scraper_db_refine_merge_spark.operators.merge import (
    merge_upsert_partitioned,
    read_partitioned_table,
    resolve_partitioned_path,
)
from scraper_db_refine_merge_spark.streaming import store as st


def _mk_batch(spark, rows):
    return spark.createDataFrame(rows, "event_id string, day string, value double")


def _table(spark, target):
    return {
        (r["event_id"], str(r["day"]), r["value"])
        for r in read_partitioned_table(spark, target).collect()
    }


def _mapping(target):
    return m._view_mapping(resolve_partitioned_path(target))


def _log_entry(target):
    """Path of the one live commit-log entry (GC keeps only the top)."""
    [(_, name)] = st._commitlog_entries(target)
    return os.path.join(target, st._COMMITLOG, name)


def _files_with_mtimes(target: str, rel: str) -> dict[str, float]:
    d = os.path.join(target, rel)
    return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet")}


def test_partitioned_merge_rewrites_only_touched_partitions(spark, tmp_path):
    target = str(tmp_path / "events_by_day")
    base = spark.createDataFrame(
        [
            ("e1", "2024-01-01", 1.0),
            ("e2", "2024-01-01", 2.0),
            ("e3", "2024-01-02", 3.0),
            ("e4", "2024-01-03", 4.0),
        ],
        "event_id string, day string, value double",
    )
    merge_upsert_partitioned(spark, target, base, key_cols=["event_id"], partition_col="day")

    untouched = {p: _mapping(target)[f"day={p}"] for p in ("2024-01-02", "2024-01-03")}
    untouched_before = {p: _files_with_mtimes(target, rel) for p, rel in untouched.items()}

    # batch: update e1 (2024-01-01), insert e5 into a NEW partition; e1 has a
    # within-batch duplicate that latest-wins must resolve first
    batch = spark.createDataFrame(
        [
            ("e1", "2024-01-01", 10.0, 1),
            ("e1", "2024-01-01", 99.0, 2),  # newer → wins
            ("e5", "2024-01-04", 5.0, 1),
        ],
        "event_id string, day string, value double, version int",
    ).withColumn("__ord", F.col("version")).drop("version")

    touched = merge_upsert_partitioned(
        spark,
        target,
        batch.select("event_id", "day", "value", "__ord"),
        key_cols=["event_id"],
        partition_col="day",
        order_cols=[F.col("__ord").desc(), F.col("event_id")],
    )
    assert touched == ["2024-01-01", "2024-01-04"]

    # untouched partitions: the new view maps the same data dirs, whose
    # files keep their mtimes — never rewritten
    mapping = _mapping(target)
    for p, before in untouched_before.items():
        assert mapping[f"day={p}"] == untouched[p]
        assert _files_with_mtimes(target, untouched[p]) == before

    out = {
        r["event_id"]: r["value"]
        for r in read_partitioned_table(spark, target).select("event_id", "value").collect()
    }
    assert out == {"e1": 99.0, "e2": 2.0, "e3": 3.0, "e4": 4.0, "e5": 5.0}


def test_partitioned_merge_rejects_null_partition_values(spark, tmp_path):
    """NULL partition values would land in __HIVE_DEFAULT_PARTITION__,
    which isin(touched) cannot prune — must be rejected at entry."""
    batch = spark.createDataFrame(
        [("e1", "2024-01-01", 1.0), ("e2", None, 2.0)],
        "event_id string, day string, value double",
    )
    with pytest.raises(ValueError, match="NULL"):
        merge_upsert_partitioned(
            spark, str(tmp_path / "t"), batch, key_cols=["event_id"], partition_col="day"
        )


# ----------------------------------------------------------------------
# Commit protocol (r14, VERDICT r13 item 2): one exclusive-create log
# entry commits a whole merge — a crash ANYWHERE before it leaves readers
# on the previous snapshot.


def test_pointer_layout_upsert_roundtrip(spark, tmp_path):
    """Upserts update/insert across partitions; an untouched partition maps
    to the SAME immutable data dir in the next view."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 1.0), ("e2", "d2", 2.0), ("e3", "d3", 3.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert len(st._commitlog_entries(target)) == 1
    view1 = resolve_partitioned_path(target)
    map1 = _mapping(target)

    touched = merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 10.0), ("e4", "d4", 4.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert touched == ["d1", "d4"]
    assert _table(spark, target) == {
        ("e1", "d1", 10.0), ("e2", "d2", 2.0), ("e3", "d3", 3.0), ("e4", "d4", 4.0),
    }
    assert resolve_partitioned_path(target) != view1
    map2 = _mapping(target)
    assert map2["day=d2"] == map1["day=d2"]
    assert map2["day=d1"] != map1["day=d1"]


def test_pointer_layout_crash_mid_pointer_put(spark, tmp_path, monkeypatch):
    """Kill the writer between the exclusive create of its log entry and
    the entry's content: the torn (empty) top entry is skipped, readers
    stay on the old snapshot, and a retry commits over the torn entry."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target, _mk_batch(spark, [("e1", "d1", 1.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    before = _table(spark, target)
    view_before = resolve_partitioned_path(target)

    real_open = os.open

    def crashing_open(path, flags, *a, **k):
        fd = real_open(path, flags, *a, **k)
        if os.path.basename(os.path.dirname(path)) == st._COMMITLOG:
            os.close(fd)  # the entry exists, its content never lands
            raise OSError("injected crash mid log put")
        return fd

    monkeypatch.setattr(os, "open", crashing_open)
    with pytest.raises(OSError, match="injected crash"):
        merge_upsert_partitioned(
            spark, target, _mk_batch(spark, [("e1", "d1", 2.0)]),
            key_cols=["event_id"], partition_col="day",
        )
    monkeypatch.undo()
    assert len(st._commitlog_entries(target)) == 2  # the torn entry is there
    assert resolve_partitioned_path(target) == view_before
    assert _table(spark, target) == before

    merge_upsert_partitioned(
        spark, target, _mk_batch(spark, [("e1", "d1", 2.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert _table(spark, target) == {("e1", "d1", 2.0)}
    views = [d for d in os.listdir(target) if d.startswith("v-")]
    assert len(views) == 1  # crash orphan GC'd


def test_plain_hive_target_is_refused(spark, tmp_path):
    """A pre-existing plain hive directory has no commit log: its readers
    scan the directory itself and would never see a committed view, so
    the merge refuses it instead of migrating it under them."""
    target = str(tmp_path / "plain")
    _mk_batch(spark, [("e1", "d1", 1.0), ("e2", "d2", 2.0)]).write.partitionBy(
        "day"
    ).parquet(target)
    before = sorted(os.listdir(target))
    with pytest.raises(ValueError, match="not a partitioned merge table"):
        merge_upsert_partitioned(
            spark, target, _mk_batch(spark, [("e1", "d1", 9.0)]),
            key_cols=["event_id"], partition_col="day",
        )
    assert sorted(os.listdir(target)) == before
    assert read_partitioned_table(spark, target) is None


def test_pointer_layout_hive_escaped_partition_values(spark, tmp_path):
    """Partition values the hive writer percent-escapes (':' in a
    timestamp-like string) must round-trip: the view maps the dirs the
    staged write PRODUCED, never names constructed from str(value)."""
    target = str(tmp_path / "esc")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "2025-05-05 21:30:00", 1.0), ("e2", "plain", 2.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert _table(spark, target) == {
        ("e1", "2025-05-05 21:30:00", 1.0), ("e2", "plain", 2.0),
    }
    # upsert into the escaped partition: new value wins, nothing re-maps stale
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "2025-05-05 21:30:00", 9.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert _table(spark, target) == {
        ("e1", "2025-05-05 21:30:00", 9.0), ("e2", "plain", 2.0),
    }
    assert any("%3A" in name for name in _mapping(target))  # escaping really happened


# ----------------------------------------------------------------------
# r15 (ADVICE r14, medium): a log whose committed entry names no snapshot
# must fail the WRITER loudly — re-initializing over it would let
# post-commit GC delete every prior view/data commit. Readers keep
# returning None (safe). Two commits first, so the live entry is not the
# first commit's (an empty first entry is a torn first commit: fresh).


@pytest.mark.parametrize("corruption", ["", "v-999999-deadbeef"])
def test_pointer_corruption_blocks_writer_not_reader(spark, tmp_path, corruption):
    target = str(tmp_path / "pt")
    for rows in ([("e1", "d1", 1.0)], [("e2", "d2", 2.0)]):
        merge_upsert_partitioned(
            spark, target, _mk_batch(spark, rows), key_cols=["event_id"], partition_col="day",
        )
    view_before = resolve_partitioned_path(target)
    entry = _log_entry(target)

    with open(entry, "w") as f:
        f.write(corruption)

    # reader: safe None, no raise
    assert resolve_partitioned_path(target) is None
    assert read_partitioned_table(spark, target) is None

    # writer: refuses — and leaves every prior commit dir on disk
    dirs_before = sorted(os.listdir(target))
    with pytest.raises(st.StoreCorruptPointerError, match="names no snapshot"):
        merge_upsert_partitioned(
            spark, target,
            _mk_batch(spark, [("e9", "d9", 9.0)]),
            key_cols=["event_id"], partition_col="day",
        )
    assert sorted(os.listdir(target)) == dirs_before

    # recovery: restoring the entry brings the old snapshot back intact
    with open(entry, "w") as f:
        f.write(os.path.basename(view_before))
    assert _table(spark, target) == {("e1", "d1", 1.0), ("e2", "d2", 2.0)}
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e9", "d9", 9.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert _table(spark, target) == {
        ("e1", "d1", 1.0), ("e2", "d2", 2.0), ("e9", "d9", 9.0),
    }


@pytest.mark.parametrize("corruption", ["", "v-999999-deadbeef"])
def test_store_pointer_corruption_blocks_writers(spark, tmp_path, corruption):
    target = str(tmp_path / "store")
    for k in (1, 2):
        st.store_commit_parts({"t": spark.createDataFrame([(k,)], "k long")}, target)

    with open(_log_entry(target), "w") as f:
        f.write(corruption)

    assert st.store_read(spark, target) is None  # reader: safe None

    df = spark.createDataFrame([(3,)], "k long")
    with pytest.raises(st.StoreCorruptPointerError):
        st.store_commit_parts({"t": df}, target)
    with pytest.raises(st.StoreCorruptPointerError):
        st.store_commit(df, target)
    with pytest.raises(st.StoreCorruptPointerError):
        st.store_compact(spark, target)


# ----------------------------------------------------------------------
# r15 (VERDICT r14 item 5): the view is a manifest, not a directory tree of
# links, so the layout needs neither symlinks nor renames.


def test_manifest_layout_roundtrip_without_symlinks(spark, tmp_path, monkeypatch):
    """With os.symlink and os.replace refused, upserts commit and read back;
    each view dir holds only its manifest."""
    def refuse(*a, **k):
        raise OSError("not supported on this filesystem")

    monkeypatch.setattr(os, "symlink", refuse)
    monkeypatch.setattr(os, "replace", refuse)
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 1.0), ("e2", "d2", 2.0), ("e3", "d3", 3.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert os.listdir(resolve_partitioned_path(target)) == [m._PT_MANIFEST]

    touched = merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 10.0), ("e4", "d4", 4.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert touched == ["d1", "d4"]
    assert _table(spark, target) == {
        ("e1", "d1", 10.0), ("e2", "d2", 2.0), ("e3", "d3", 3.0), ("e4", "d4", 4.0),
    }
    assert os.listdir(resolve_partitioned_path(target)) == [m._PT_MANIFEST]


def test_manifest_layout_crash_during_manifest_write(spark, tmp_path, monkeypatch):
    """Kill the writer mid-manifest: readers stay on the old snapshot,
    retry commits cleanly."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 1.0), ("e2", "d2", 2.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    before = _table(spark, target)
    view_before = resolve_partitioned_path(target)

    real_dump = m.json.dump

    def crashing_dump(obj, fh, *a, **k):
        if os.path.basename(fh.name) == m._PT_MANIFEST:
            fh.write('{"day=d1": "data/tor')  # torn partial write
            raise OSError("injected crash mid-manifest")
        return real_dump(obj, fh, *a, **k)

    monkeypatch.setattr(m.json, "dump", crashing_dump)
    with pytest.raises(OSError, match="injected crash"):
        merge_upsert_partitioned(
            spark, target,
            _mk_batch(spark, [("e1", "d1", 99.0), ("e4", "d4", 4.0)]),
            key_cols=["event_id"], partition_col="day",
        )
    monkeypatch.undo()

    assert resolve_partitioned_path(target) == view_before
    assert _table(spark, target) == before

    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 99.0), ("e4", "d4", 4.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    assert _table(spark, target) == {
        ("e1", "d1", 99.0), ("e2", "d2", 2.0), ("e4", "d4", 4.0),
    }


def test_manifest_layout_pointer_corruption_blocks_writer(spark, tmp_path):
    """A FIRST commit's entry naming a view that does not exist is
    corruption, not a torn first commit (that one is empty): readers
    None, the writer refuses."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target, _mk_batch(spark, [("e1", "d1", 1.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    with open(_log_entry(target), "w") as f:
        f.write("v-000001-deadbeef")
    assert read_partitioned_table(spark, target) is None
    with pytest.raises(st.StoreCorruptPointerError, match="names no snapshot"):
        merge_upsert_partitioned(
            spark, target, _mk_batch(spark, [("e2", "d2", 2.0)]),
            key_cols=["event_id"], partition_col="day",
        )


def test_manifest_empty_mapping_raises_descriptive_error(spark, tmp_path):
    """r16 ADVICE: a hand-truncated/corrupt _VIEW_MANIFEST.json mapping no
    partitions must surface as a descriptive error."""
    target = str(tmp_path / "pt")
    merge_upsert_partitioned(
        spark, target,
        _mk_batch(spark, [("e1", "d1", 1.0)]),
        key_cols=["event_id"], partition_col="day",
    )
    with open(os.path.join(resolve_partitioned_path(target), m._PT_MANIFEST), "w") as f:
        json.dump({}, f)
    with pytest.raises(RuntimeError, match="maps no"):
        read_partitioned_table(spark, target)
