"""Both merges evaluate their batch once, as an RDD-backed leaf
(operators.merge._materialized), and must release it: no checkpointed or
persisted RDD outlives a merge call, whether the call returns or raises."""

from __future__ import annotations

import os

import pytest

from scraper_db_refine_merge_spark.operators.merge import merge_upsert, merge_upsert_partitioned


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _batch(spark, rows):
    return spark.createDataFrame(rows, "event_id string, day string, value double")


def _partitioned(spark, target, rows):
    return merge_upsert_partitioned(
        spark, target, _batch(spark, rows), key_cols=["event_id"], partition_col="day"
    )


def test_partitioned_merge_releases_its_batch(spark, tmp_path):
    target = str(tmp_path / "pt")
    before = _persistent_rdds(spark)
    assert _partitioned(spark, target, [("e1", "d1", 1.0), ("e2", "d2", 2.0)]) == ["d1", "d2"]
    assert _persistent_rdds(spark) == before
    # an existing target: the anti-join and the view commit read the leaf too
    assert _partitioned(spark, target, [("e1", "d1", 5.0), ("e3", "d3", 3.0)]) == ["d1", "d3"]
    assert _persistent_rdds(spark) == before
    # an empty batch returns before the commit
    assert _partitioned(spark, target, []) == []
    assert _persistent_rdds(spark) == before


def test_partitioned_merge_releases_on_null_partition_value(spark, tmp_path):
    before = _persistent_rdds(spark)
    with pytest.raises(ValueError, match="NULL"):
        _partitioned(spark, str(tmp_path / "pt"), [("e1", "d1", 1.0), ("e2", None, 2.0)])
    assert _persistent_rdds(spark) == before


def test_partitioned_merge_releases_on_torn_pointer(spark, tmp_path):
    target = str(tmp_path / "pt")
    _partitioned(spark, target, [("e1", "d1", 1.0)])
    with open(os.path.join(target, "CURRENT"), "w") as f:
        f.write("")
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="CURRENT exists but"):
        _partitioned(spark, target, [("e9", "d9", 9.0)])
    assert _persistent_rdds(spark) == before


@pytest.mark.parametrize("collect_stats", [True, False])
def test_whole_table_merge_releases_its_batch(spark, tmp_path, collect_stats):
    target = str(tmp_path / "t")
    before = _persistent_rdds(spark)
    for rows in ([("e1", "d1", 1.0), ("e2", "d2", 2.0)], [("e1", "d1", 5.0), ("e1", "d1", 6.0)]):
        merge_upsert(
            spark, target, _batch(spark, rows), key_cols=["event_id"],
            collect_stats=collect_stats, backend="parquet",
        )
        assert _persistent_rdds(spark) == before
