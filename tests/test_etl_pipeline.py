"""End-to-end ingest: pipe-delimited fixtures → warehouse tables, with
encoding fallback, cleaning, PHI hashing, upsert semantics, schema
validation, and metadata bookkeeping (reference behaviors from
FIXTURES.md + tests/unit/test_database.py:257-297 insert/update counts)."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from calaveras_uniteus_etl_spark.config import ETLConfig, PHIConfig
from calaveras_uniteus_etl_spark.etl import ingest
from calaveras_uniteus_etl_spark.functions.hashing import salted_sha256
from calaveras_uniteus_etl_spark.sources.delimited import detect_encoding, read_delimited
from calaveras_uniteus_etl_spark.sources.discovery import TaskStatus
from calaveras_uniteus_etl_spark.warehouse import Warehouse

PEOPLE_V1 = (
    "person_id|first_name|last_name|gender|date_of_birth|people_created_at\n"
    "p1|John|Doe|male|1990-01-15|2024-01-01 10:00:00\n"
    "p2|Jane|Smith|female|1985-06-20|2024-01-02 11:00:00\n"
    "p3|José|García|male|2000-12-31|NULL\n"
)

PEOPLE_V2 = (
    "person_id|first_name|last_name|gender|date_of_birth|people_created_at\n"
    "p2|Jane|Jones|female|1985-06-20|2024-01-02 11:00:00\n"
    "p4|New|Person|female|1999-09-09|2024-02-01 09:00:00\n"
)

CASES_V1 = (
    "case_id|person_id|case_status|case_created_at|service_type\n"
    "c1|p1|open|2024-01-01 10:00:00|Housing\n"
    "c2|p2|managed|2024-01-02 11:00:00|Food\n"
    "c3|p3|closed|2024-01-03 10:00:00|Housing\n"
)


def _cfg(tmp_path, **kw) -> ETLConfig:
    return ETLConfig(
        input_dir=str(tmp_path / "input"),
        warehouse_dir=str(tmp_path / "warehouse"),
        phi=PHIConfig(enabled=kw.pop("phi_enabled", False)),
        **kw,
    )


@pytest.fixture()
def input_dir(tmp_path):
    d = tmp_path / "input"
    d.mkdir()
    return d


def test_encoding_fallback(tmp_path, spark):
    latin = tmp_path / "people_20240101.txt"
    latin.write_bytes("person_id|first_name\np1|Jos\xe9\n".encode("latin-1"))
    assert detect_encoding(str(latin)) == "latin-1"
    df = read_delimited(spark, str(latin))
    assert df.collect()[0]["first_name"] == "José"

    utf8 = tmp_path / "people_20240102.txt"
    utf8.write_text("person_id|first_name\np1|José\n", encoding="utf-8")
    assert detect_encoding(str(utf8)) == "utf-8"


def test_null_sentinels_and_quotes(tmp_path, spark):
    p = tmp_path / "x.txt"
    p.write_text(
        'a|b|c\n"has|pipe"|NULL|None\nv|null|\n', encoding="utf-8"
    )
    rows = read_delimited(spark, str(p)).collect()
    assert rows[0]["a"] == "has|pipe" and rows[0]["b"] is None and rows[0]["c"] is None
    assert rows[1]["b"] is None and rows[1]["c"] is None


def test_ingest_end_to_end(tmp_path, spark, input_dir):
    (input_dir / "SAMPLE_people_20240101.txt").write_text(PEOPLE_V1)
    (input_dir / "cases_20240101.txt").write_text(CASES_V1)
    cfg = _cfg(tmp_path)
    report = ingest(spark, cfg)
    assert not report.failed, [t.error for t in report.failed]
    assert {t.table_name for t in report.completed} == {"people", "cases"}

    wh = Warehouse(spark, cfg.warehouse_dir)
    people = wh.read("people")
    assert people.count() == 3
    row = people.filter(F.col("person_id") == "p1").collect()[0]
    assert row["first_name"] == "John"
    assert str(row["date_of_birth"]) == "1990-01-15"  # cast to DateType
    assert row["etl_loaded_at"] is not None
    # declared-but-absent columns load as NULL
    assert row["race"] is None
    # metadata bookkeeping
    meta = wh.read("etl_metadata").collect()
    assert {m.status for m in meta} == {"completed"}


def test_ingest_upsert_and_skip(tmp_path, spark, input_dir):
    (input_dir / "people_20240101.txt").write_text(PEOPLE_V1)
    cfg = _cfg(tmp_path)
    r1 = ingest(spark, cfg)
    assert r1.completed[0].rows_inserted == 3

    # re-run: same (name, md5) → skipped
    r2 = ingest(spark, cfg)
    assert len(r2.skipped) == 1 and not r2.completed

    # v2 file: 1 update (p2 renamed) + 1 insert (p4), last-write-wins
    (input_dir / "people_20240201.txt").write_text(PEOPLE_V2)
    r3 = ingest(spark, cfg)
    t = r3.completed[0]
    assert (t.rows_inserted, t.rows_updated) == (1, 1)
    wh = Warehouse(spark, cfg.warehouse_dir)
    people = wh.read("people")
    assert people.count() == 4
    assert (
        people.filter(F.col("person_id") == "p2").collect()[0]["last_name"] == "Jones"
    )


def test_within_batch_duplicate_keeps_last(tmp_path, spark, input_dir):
    dup = (
        "person_id|first_name|last_name\n"
        "p1|First|Row\n"
        "p1|Last|Row\n"
    )
    (input_dir / "people_20240101.txt").write_text(dup)
    cfg = _cfg(tmp_path)
    ingest(spark, cfg)
    # seed a second batch that updates p1 twice; keep-last must win
    (input_dir / "people_20240202.txt").write_text(
        "person_id|first_name|last_name\np1|Mid|Row\np1|Final|Row\n"
    )
    ingest(spark, cfg)
    wh = Warehouse(spark, cfg.warehouse_dir)
    rows = wh.read("people").filter(F.col("person_id") == "p1").collect()
    assert len(rows) == 1 and rows[0]["first_name"] == "Final"


def test_first_load_duplicate_keeps_last(tmp_path, spark, input_dir):
    """A table's first load keeps the last line of a duplicated key,
    like the merge path does."""
    (input_dir / "people_20240101.txt").write_text(
        "person_id|first_name\np1|First\np2|x\np1|Last\n"
    )
    cfg = _cfg(tmp_path)
    report = ingest(spark, cfg)
    assert report.tasks[0].rows_inserted == 2
    rows = Warehouse(spark, cfg.warehouse_dir).read("people").collect()
    assert {r["person_id"]: r["first_name"] for r in rows} == {"p1": "Last", "p2": "x"}


def test_phi_hashing_applied(tmp_path, spark, input_dir):
    (input_dir / "people_20240101.txt").write_text(PEOPLE_V1)
    cfg = _cfg(tmp_path, phi_enabled=True)
    ingest(spark, cfg)
    wh = Warehouse(spark, cfg.warehouse_dir)
    salt = cfg.phi.salt

    def h(value: str) -> str:
        return (
            spark.createDataFrame([(value,)], "v string")
            .select(salted_sha256("v", salt).alias("h"))
            .collect()[0]["h"]
        )

    # ids hash too (reference fields_to_hash includes person_id) — the
    # hash is deterministic, so the row stays addressable by hashed key
    row = wh.read("people").filter(F.col("person_id") == h("p1")).collect()[0]
    # sha256 hexdigest format, deterministic, not the cleartext
    assert row["first_name"] != "John" and len(row["first_name"]) == 64
    assert row["first_name"] == h("John")
    # gender is not a PHI field
    assert row["gender"] == "male"


def test_schema_validation_fails_unknown_column(tmp_path, spark, input_dir):
    (input_dir / "people_20240101.txt").write_text(
        "person_id|no_such_column\np1|x\n"
    )
    cfg = _cfg(tmp_path)
    report = ingest(spark, cfg)
    assert len(report.failed) == 1
    assert "no_such_column" in report.failed[0].error
    wh = Warehouse(spark, cfg.warehouse_dir)
    errors = wh.read("schema_errors").collect()
    assert any(e.error_type == "missing_column" for e in errors)


def test_required_field_rows_dropped(tmp_path, spark, input_dir):
    (input_dir / "people_20240101.txt").write_text(
        "person_id|first_name\np1|John\nNULL|Ghost\n"
    )
    cfg = _cfg(tmp_path)
    ingest(spark, cfg)
    wh = Warehouse(spark, cfg.warehouse_dir)
    assert wh.read("people").count() == 1


def test_malformed_rows_jagged_and_quoted(tmp_path, spark):
    """Jagged rows: extra fields are dropped, missing fields are NULL —
    Spark CSV PERMISSIVE-mode behavior, matching the reference's intent
    of loading what parses rather than failing the file."""
    from calaveras_uniteus_etl_spark.sources.delimited import read_delimited

    p = tmp_path / "jagged.txt"
    p.write_text(
        "a|b|c\n"
        "1|2|3\n"
        "4|5\n"  # short row → c NULL
        "6|7|8|9\n"  # long row → extra dropped
        '10|"x|y"|11\n'  # quoted delimiter preserved
    )
    rows = {r["a"]: (r["b"], r["c"]) for r in read_delimited(spark, str(p)).collect()}
    assert rows == {
        "1": ("2", "3"),
        "4": ("5", None),
        "6": ("7", "8"),
        "10": ("x|y", "11"),
    }


def test_latin1_bytes_do_not_fail(tmp_path, spark):
    from calaveras_uniteus_etl_spark.sources.delimited import (
        detect_encoding,
        read_delimited,
    )

    p = tmp_path / "latin.txt"
    p.write_bytes(b"name|note\ncaf\xe9|ok\n")  # 0xe9 invalid utf-8
    assert detect_encoding(str(p)) == "latin-1"
    rows = read_delimited(spark, str(p)).collect()
    assert rows[0]["name"] == "caf\xe9"


def test_quality_issues_logged_and_summarized(tmp_path, spark, input_dir):
    """C6: the cleaning report lands as data_quality_issues rows and
    quality_summary() rolls them up the way the reference's
    /api/data-quality/summary does (total / by type / by table)."""
    from calaveras_uniteus_etl_spark.etl import quality_summary

    # p3's people_created_at is the NULL sentinel → one null_values row
    (input_dir / "people_20240101.txt").write_text(PEOPLE_V1)
    cfg = _cfg(tmp_path)
    report = ingest(spark, cfg)
    assert [t.status for t in report.tasks] == [TaskStatus.COMPLETED]

    wh = Warehouse(spark, cfg.warehouse_dir)
    issues = wh.read("data_quality_issues")
    logged = {
        (r.issue_type, r.column_name): r.issue_count for r in issues.collect()
    }
    assert logged[("null_values", "people_created_at")] == 1
    assert all(r.table_name == "people" for r in issues.collect())

    s = {(r.grain, r.key): r.n_issues for r in quality_summary(wh).collect()}
    total = sum(v for (g, _), v in s.items() if g == "issue_type")
    assert s[("total", None)] == total > 0
    assert s[("table_name", "people")] == s[("total", None)]


def test_all_null_line_dropped_and_logged(tmp_path, spark, input_dir):
    """B1: a line whose every field is empty is dropped and logged as one
    all_null_row issue (the added _line_no column is not data), and it
    adds nothing to the null_values counts."""
    (input_dir / "people_20240101.txt").write_text(
        "person_id|first_name|people_created_at\n"
        "p1|John|2024-01-01 10:00:00\n"
        "||\n"
        "p2|Jane|NULL\n"
    )
    cfg = _cfg(tmp_path)
    report = ingest(spark, cfg)
    assert report.tasks[0].rows_inserted == 2
    issues = Warehouse(spark, cfg.warehouse_dir).read("data_quality_issues").collect()
    logged = {(r.issue_type, r.column_name): r.issue_count for r in issues}
    assert logged == {("all_null_row", None): 1, ("null_values", "people_created_at"): 1}


def _spark_jobs(spark, fn):
    """Number of Spark jobs ``fn()`` runs, counted in a job group."""
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ingest_job_budget(tmp_path, spark, input_dir):
    """Loading one file runs at most 4 Spark jobs more than an ingest
    that loads nothing (both run the skip check and the metadata
    append): the header read, the merge's shuffle and write, and the
    quality append. A counting pass over the file breaks the budget.
    Checked for a first load and for a reload with one update and one
    insert."""
    cfg = _cfg(tmp_path)
    (input_dir / "cases_20240101.txt").write_text(CASES_V1)
    ingest(spark, cfg)
    for name, body, counts in (
        ("people_20240101.txt", PEOPLE_V1, (3, 0)),
        ("people_20240201.txt", PEOPLE_V2, (1, 1)),
    ):
        idle = _spark_jobs(spark, lambda: ingest(spark, cfg))
        (input_dir / name).write_text(body)
        reports = []
        one_file = _spark_jobs(spark, lambda: reports.append(ingest(spark, cfg)))
        [t] = reports[0].completed
        assert (t.rows_inserted, t.rows_updated) == counts
        assert one_file - idle <= 4, (name, idle, one_file)
