"""Warehouse retention: every commit names one version of each table,
and the warehouse keeps the versions the last RETAINED_VERSIONS + 1
commits name. These tests prove: a request pinned to a retained commit
reads that commit's rows back while later commits land, and reads
nothing once its commit is pruned; commit numbers are monotonic in write
order and pruning does not renumber them; versions no retained commit
names are deleted from disk; a partitioned table's pinned commit reads
back with its partition column.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from calaveras_uniteus_etl_spark.warehouse import RETAINED_VERSIONS, Warehouse


def _rows(df):
    return sorted((r[0], r[1]) for r in df.collect())


def _commits(root) -> list[int]:
    return sorted(int(n[1:]) for n in os.listdir(os.path.join(root, "_commits")))


def test_versions_accumulate_and_read_back(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pinned = []
    for gen in range(RETAINED_VERSIONS + 1):
        df = spark.range(3).select(
            "id", (F.col("id") * 10 + gen).alias("v")
        )
        wh.write("t", df)
        pinned.append(wh.head())
    # the last write is the head; every earlier commit is retained
    assert _rows(wh.read("t", at=pinned[0])) == [(0, 0), (1, 10), (2, 20)]
    assert _rows(wh.read("t", at=pinned[1])) == [(0, 1), (1, 11), (2, 21)]
    gen = RETAINED_VERSIONS
    assert _rows(wh.read("t")) == [(0, gen), (1, 10 + gen), (2, 20 + gen)]
    wh.write("t", spark.range(3).select("id", F.lit(-1).alias("v")))
    with pytest.raises(FileNotFoundError, match="'t' not found"):
        wh.read("t", at=pinned[0])  # pruned with its commit


def test_retention_prunes_oldest_without_renumbering(spark, tmp_path):
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    writes = RETAINED_VERSIONS + 3
    for gen in range(writes):
        wh.write(
            "t", spark.range(2).select("id", F.lit(gen).alias("v"))
        )
    # only the latest RETAINED_VERSIONS + 1 commits are kept; numbering
    # is NOT compacted — commit n still holds write n's state
    kept = list(range(writes - 1 - RETAINED_VERSIONS, writes))
    assert _commits(root) == kept
    for n in kept:
        at = os.path.join(root, "_commits", f"c{n}")
        assert {r.v for r in wh.read("t", at=at).collect()} == {n}


def test_retention_zero_keeps_delete_behavior(spark, tmp_path):
    """Versions beyond the retained commits are gone from disk."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    for gen in range(RETAINED_VERSIONS + 3):
        wh.write("t", spark.range(2).select("id", F.lit(gen).alias("v")))
    on_disk = os.listdir(os.path.join(root, "_versions", "t"))
    assert len(on_disk) == RETAINED_VERSIONS + 1
    assert len(_commits(root)) == RETAINED_VERSIONS + 1


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
