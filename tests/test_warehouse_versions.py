"""Warehouse table versions (time travel over the committed versions).

Every write commits a new immutable version and the warehouse keeps the
last RETAINED_VERSIONS superseded ones. These tests prove: version
numbering is monotonic in write order, old versions read back
bit-identically, retention prunes oldest-first without renumbering,
restore round-trips and is itself undoable, and versions beyond the
retained count are deleted from disk.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from calaveras_uniteus_etl_spark.warehouse import RETAINED_VERSIONS, Warehouse


def _rows(df):
    return sorted((r[0], r[1]) for r in df.collect())


def test_versions_accumulate_and_read_back(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for gen in range(RETAINED_VERSIONS + 1):
        df = spark.range(3).select(
            "id", (F.col("id") * 10 + gen).alias("v")
        )
        wh.write("t", df)
    # the last write is current; every earlier one is a retained version
    assert wh.list_snapshots("t") == list(range(RETAINED_VERSIONS))
    assert _rows(wh.read_version("t", 0)) == [(0, 0), (1, 10), (2, 20)]
    assert _rows(wh.read_version("t", 1)) == [(0, 1), (1, 11), (2, 21)]
    gen = RETAINED_VERSIONS
    assert _rows(wh.read("t")) == [(0, gen), (1, 10 + gen), (2, 20 + gen)]
    with pytest.raises(FileNotFoundError, match="no retained version 9"):
        wh.read_version("t", 9)


def test_retention_prunes_oldest_without_renumbering(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    writes = RETAINED_VERSIONS + 3
    for gen in range(writes):
        wh.write(
            "t", spark.range(2).select("id", F.lit(gen).alias("v"))
        )
    # only the latest RETAINED_VERSIONS superseded versions are kept;
    # numbering is NOT compacted — version n still means write n's state
    kept = list(range(writes - 1 - RETAINED_VERSIONS, writes - 1))
    assert wh.list_snapshots("t") == kept
    assert {r.v for r in wh.read_version("t", kept[-1]).collect()} == {kept[-1]}


def test_restore_is_undoable(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write("t", spark.range(2).select("id", F.lit("a").alias("v")))
    wh.write("t", spark.range(2).select("id", F.lit("b").alias("v")))
    assert {r.v for r in wh.read("t").collect()} == {"b"}
    wh.restore("t", 0)  # back to 'a'
    assert {r.v for r in wh.read("t").collect()} == {"a"}
    # the pre-restore 'b' state was itself retained as a new version
    latest = wh.list_snapshots("t")[-1]
    assert {r.v for r in wh.read_version("t", latest).collect()} == {"b"}
    wh.restore("t", latest)  # undo the restore
    assert {r.v for r in wh.read("t").collect()} == {"b"}


def test_retention_zero_keeps_delete_behavior(spark, tmp_path):
    """Versions beyond the retained count are gone from disk."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    for gen in range(RETAINED_VERSIONS + 3):
        wh.write("t", spark.range(2).select("id", F.lit(gen).alias("v")))
    on_disk = os.listdir(os.path.join(root, "_versions", "t"))
    assert len(on_disk) == RETAINED_VERSIONS + 1
    assert len(wh.list_snapshots("t")) == RETAINED_VERSIONS


def test_partitioned_table_versions_read_back(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for gen in range(2):
        df = spark.range(6).select(
            "id", (F.col("id") % 3).alias("day"), F.lit(gen).alias("v")
        )
        wh.write("t", df, partition_by=["day"])
    v0 = wh.read_version("t", 0)
    assert {r.v for r in v0.collect()} == {0}
    assert set(v0.columns) == {"id", "day", "v"}  # partition col survives


def test_merge_schema_reads_evolving_parquet(spark, tmp_path):
    """Schema evolution at the storage layer: a column added in a
    later load must surface as NULL for old files under mergeSchema —
    the read-side half of c8/bb22835's schema-evolving upsert."""
    d = str(tmp_path / "evolving")
    spark.range(0, 10).selectExpr("id", "cast(id * 2 as double) AS v").write.parquet(
        d + "/batch=1"
    )
    spark.range(10, 20).selectExpr(
        "id", "cast(id * 2 as double) AS v", "'web' AS channel"
    ).write.parquet(d + "/batch=2")
    df = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(df.columns) >= {"id", "v", "channel"}
    assert df.count() == 20
    old = df.filter("id < 10")
    assert old.filter("channel IS NULL").count() == 10
    new = df.filter("id >= 10")
    assert new.filter("channel = 'web'").count() == 10
