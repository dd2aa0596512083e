"""Tests for export sinks (A8-A10), job undo (C3) and the ad-hoc SQL
gate (D8)."""

from __future__ import annotations

import csv
import datetime as dt
import json
import zipfile

import pytest

from pyspark.sql import functions as F

from calaveras_uniteus_etl_spark.exports.writers import (
    export_single_csv,
    export_sql_dump,
    export_zip,
)
from calaveras_uniteus_etl_spark.operators.adhoc import run_select_only
from calaveras_uniteus_etl_spark.operators.upsert import undo_load


@pytest.fixture(scope="module")
def small_df(spark):
    return spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, 3.5)],
        "id long, name string, v double",
    )


def test_export_single_csv_and_zip(spark, small_df, tmp_path):
    p = tmp_path / "one.csv"
    n = export_single_csv(small_df.orderBy("id"), str(p))
    assert n == 3
    rows = list(csv.reader(open(p)))
    assert rows[0] == ["id", "name", "v"] and len(rows) == 4

    z = tmp_path / "all.zip"
    counts = export_zip({"t1": small_df, "t2": small_df.limit(1)}, str(z))
    assert counts == {"t1": 3, "t2": 1}
    with zipfile.ZipFile(z) as zf:
        assert sorted(zf.namelist()) == ["t1.csv", "t2.csv"]


def test_export_sql_dump_quoting(spark, small_df, tmp_path):
    p = tmp_path / "dump.sql"
    export_sql_dump({"t": small_df}, str(p))
    text = open(p).read()
    assert "INSERT INTO t" in text and "NULL" in text


def test_export_sqlite_round_trip(spark, small_df, tmp_path):
    """A10's .db target: write a SQLite file and read it back with the
    stdlib driver — types mapped by affinity, NULLs preserved, decimals
    and timestamps adapted, overwrite semantics on re-export."""
    import decimal
    import sqlite3

    from calaveras_uniteus_etl_spark.exports.writers import export_sqlite

    typed = small_df.withColumn(
        "d", F.lit(decimal.Decimal("12.34")).cast("decimal(10,2)")
    ).withColumn("ts", F.lit(dt.datetime(2026, 3, 1, 9, 30)))
    p = str(tmp_path / "export.db")
    counts = export_sqlite({"t1": typed, "t2": small_df.limit(1)}, p)
    assert counts == {"t1": 3, "t2": 1}

    con = sqlite3.connect(p)
    try:
        got = con.execute(
            "SELECT id, name, v, d, ts FROM t1 ORDER BY id"
        ).fetchall()
        assert got[0] == (1, "a", 1.5, 12.34, "2026-03-01 09:30:00")
        assert got[2][1] is None  # NULL survives
        cols = {r[1]: r[2] for r in con.execute("PRAGMA table_info(t1)")}
        assert cols["id"] == "INTEGER" and cols["d"] == "REAL"
        assert cols["name"] == "TEXT" and cols["ts"] == "TEXT"
    finally:
        con.close()

    # overwrite: a second export replaces, never appends
    export_sqlite({"t1": typed.limit(2)}, p)
    con = sqlite3.connect(p)
    try:
        assert con.execute("SELECT COUNT(*) FROM t1").fetchone()[0] == 2
        with pytest.raises(sqlite3.OperationalError):
            con.execute("SELECT * FROM t2")
    finally:
        con.close()


def test_export_sqlite_respects_cap(spark, tmp_path):
    import sqlite3

    from calaveras_uniteus_etl_spark.exports.writers import export_sqlite

    big = spark.range(5000).select(F.col("id"))
    p = str(tmp_path / "capped.db")
    counts = export_sqlite({"big": big}, p, cap=1500)
    assert counts == {"big": 1500}
    con = sqlite3.connect(p)
    try:
        assert con.execute("SELECT COUNT(*) FROM big").fetchone()[0] == 1500
    finally:
        con.close()


def test_single_file_cap(spark, tmp_path):
    big = spark.range(50).select(F.col("id"))
    n = export_single_csv(big, str(tmp_path / "capped.csv"), cap=10)
    assert n == 10


def test_undo_load_window_and_nulls(spark):
    t0 = dt.datetime(2026, 1, 1, 10, 0)
    rows = [
        (1, t0 - dt.timedelta(hours=1)),   # before window → kept
        (2, t0),                            # inside → removed
        (3, t0 + dt.timedelta(minutes=30)), # inside → removed
        (4, t0 + dt.timedelta(hours=2)),    # after → kept
        (5, None),                          # never stamped → kept
    ]
    df = spark.createDataFrame(rows, "id long, etl_loaded_at timestamp")
    out = undo_load(
        df, "etl_loaded_at", t0, t0 + dt.timedelta(hours=1)
    )
    assert {r["id"] for r in out.collect()} == {1, 4, 5}


def test_adhoc_gate(spark, small_df):
    small_df.createOrReplaceTempView("adhoc_t")
    out = run_select_only(spark, "SELECT id FROM adhoc_t ORDER BY id")
    assert [r["id"] for r in out.collect()] == [1, 2, 3]
    # auto-LIMIT applied
    capped = run_select_only(spark, "SELECT id FROM adhoc_t ORDER BY id", limit=2)
    assert capped.count() == 2
    for bad in ("DROP TABLE adhoc_t", "insert into adhoc_t values (9,'z',0.0)"):
        with pytest.raises(ValueError):
            run_select_only(spark, bad)


# ---------------------------------------------------------------------------
# merge_upsert schema strictness (C2)
# ---------------------------------------------------------------------------


def test_merge_upsert_schema_evolution(spark):
    """The batch may not carry a column the table lacks: the merge
    raises rather than silently dropping it."""
    from calaveras_uniteus_etl_spark.operators.upsert import merge_upsert

    existing = spark.createDataFrame(
        [("p1", "alice"), ("p2", "bob")], ["person_id", "name"]
    )
    wider = spark.createDataFrame(
        [("p2", "bea", "x@example.com"), ("p3", "cal", None)],
        ["person_id", "name", "email"],
    )
    with pytest.raises(ValueError, match="email"):
        merge_upsert(existing, wider, keys=["person_id"])
