"""End-to-end ingest: pipe-delimited fixtures → warehouse tables, with
encoding fallback, cleaning, PHI hashing, upsert semantics, schema
validation, and metadata bookkeeping (reference behaviors from
FIXTURES.md + tests/unit/test_database.py:257-297 insert/update counts)."""

from __future__ import annotations

import hashlib
import os
import uuid

import pytest
from pyspark.sql import functions as F

from calaveras_uniteus_etl_spark.config import ETLConfig, PHIConfig
from calaveras_uniteus_etl_spark.etl import ingest
from calaveras_uniteus_etl_spark.functions.hashing import salted_sha256
from calaveras_uniteus_etl_spark.schema import PHI_COLUMNS, PRIMARY_KEYS, REQUIRED_COLUMNS, TABLE_SCHEMAS
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


# header edge cases: quoted names (one with the separator), latin-1,
# UTF-8 BOM, case-insensitive duplicates, empty names, a blank first
# line, CRLF line ends
HEADER_CASES = {
    "fixture.txt": PEOPLE_V1.encode("utf-8"),
    "quoted.txt": b'"person_id"|"a|b"|"c""d"\n1|2|3\n',
    "latin1.txt": "caf\xe9|na\xefve\nx|\xe9t\xe9\n".encode("latin-1"),
    "bom.txt": "\ufeffperson_id|first_name\np1|Jos\xe9\n".encode("utf-8"),
    "duplicate.txt": b"a|A|b|a\n1|2|3|4\n",
    "empty_name.txt": b'a||b|""\n1|2|3|4\n',
    "blank_first.txt": b"\n a |b\r\n1|2\r\n",
}


def test_header_matches_spark_inference(tmp_path, spark):
    """read_delimited names the columns from its own head probe exactly
    as Spark's CSV header inference does, and reads the same rows."""
    for name, data in HEADER_CASES.items():
        p = tmp_path / name
        p.write_bytes(data)
        charset = "iso-8859-1" if detect_encoding(str(p)) == "latin-1" else "utf-8"
        spark_df = (
            spark.read.option("header", True).option("sep", "|").option("quote", '"')
            .option("escape", '"').option("encoding", charset).option("nullValue", "")
            .csv(str(p))
        )
        ours = read_delimited(spark, str(p), with_line_number=True)
        assert ours.columns == spark_df.columns + ["_line_no"], name
        want = [
            tuple(None if v in ("NULL", "null", "None") else v for v in r)
            for r in spark_df.collect()
        ]
        assert [tuple(r)[:-1] for r in ours.collect()] == want, name


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


def test_same_table_files_load_in_date_order(tmp_path, spark, input_dir):
    """Files of one table load oldest first by the date in their name,
    whatever their prefix, so the newest delivery wins."""
    (input_dir / "CHHSCA_people_20240201.txt").write_text(
        "person_id|first_name\np1|Newer\n"
    )
    (input_dir / "SAMPLE_people_20240101.txt").write_text(
        "person_id|first_name\np1|Older\n"
    )
    cfg = _cfg(tmp_path)
    report = ingest(spark, cfg)
    counts = {t.file_name: (t.rows_inserted, t.rows_updated) for t in report.tasks}
    assert counts == {
        "SAMPLE_people_20240101.txt": (1, 0),
        "CHHSCA_people_20240201.txt": (0, 1),
    }
    [row] = Warehouse(spark, cfg.warehouse_dir).read("people").collect()
    assert row["first_name"] == "Newer"


def test_concurrent_ingest_equals_one_file_per_job(tmp_path, spark):
    """One ingest job that loads three tables at once leaves the same
    tables, file statuses and counts as loading the same files one job
    at a time, oldest first: two people files (the second updates p2),
    a cases file and a referrals file that fails its schema check."""
    files = {
        "people_20240101.txt": PEOPLE_V1,
        "cases_20240101.txt": CASES_V1,
        "referrals_20240101.txt": "referral_id|no_such_column\nr1|x\n",
        "people_20240201.txt": PEOPLE_V2,
    }
    by_date = sorted(files, key=lambda n: n[-12:])
    results = []
    for run, jobs in (("together", [None]), ("apart", [{n} for n in by_date])):
        (tmp_path / run / "input").mkdir(parents=True)
        for name, body in files.items():
            (tmp_path / run / "input" / name).write_text(body)
        cfg = _cfg(tmp_path / run, phi_enabled=True)
        tasks = [t for job in jobs for t in ingest(spark, cfg, selected_files=job).tasks]
        wh = Warehouse(spark, cfg.warehouse_dir)
        tables = {
            table: sorted(
                tuple(r) for r in wh.read(table).drop("etl_loaded_at", "etl_updated_at").collect()
            )
            for table in ("people", "cases", "referrals")
        }
        outcome = {t.file_name: (t.status, t.rows_inserted, t.rows_updated) for t in tasks}
        results.append((tables, outcome))
    (together, outcome), (apart, outcome_apart) = results
    assert outcome == outcome_apart
    assert outcome["people_20240201.txt"] == (TaskStatus.COMPLETED, 1, 1)
    assert outcome["referrals_20240101.txt"][0] == TaskStatus.FAILED
    assert together == apart
    assert len(together["people"]) == 4 and len(together["cases"]) == 3


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


def test_delivered_file_cannot_forge_the_load_record(tmp_path, spark, input_dir):
    """A file routed to a bookkeeping table fails as missing_table, so it
    cannot mark a later delivery as already loaded."""
    cases_md5 = hashlib.md5(CASES_V1.encode()).hexdigest()
    (input_dir / "SAMPLE_etl_metadata_20240101.txt").write_text(
        "file_name|table_name|file_hash|status\n"
        f"SAMPLE_cases_20240103.txt|cases|{cases_md5}|completed\n"
    )
    cfg = _cfg(tmp_path)
    [forged] = ingest(spark, cfg).tasks
    assert forged.status == TaskStatus.FAILED
    wh = Warehouse(spark, cfg.warehouse_dir)
    assert [(e.table_name, e.error_type) for e in wh.read("schema_errors").collect()] == [
        ("etl_metadata", "missing_table")
    ]

    (input_dir / "SAMPLE_cases_20240103.txt").write_text(CASES_V1)
    report = ingest(spark, cfg)
    assert [t.file_name for t in report.completed] == ["SAMPLE_cases_20240103.txt"]
    assert wh.read("cases").count() == 3


def test_file_without_key_column_fails(tmp_path, spark, input_dir):
    """A file that lacks an expected column (here the primary key) fails
    its schema check instead of merging rows with a NULL key."""
    (input_dir / "SAMPLE_people_20240102.txt").write_text(
        "first_name|last_name\nAnn|Ayes\n"
    )
    cfg = _cfg(tmp_path)
    [task] = ingest(spark, cfg).tasks
    assert task.status == TaskStatus.FAILED and "person_id" in task.error
    wh = Warehouse(spark, cfg.warehouse_dir)
    errors = [(e.error_type, e.column_name, e.severity) for e in wh.read("schema_errors").collect()]
    assert ("missing_required_column", "person_id", "critical") in errors
    assert not wh.exists("people")


def test_every_data_table_is_declared_and_keyed():
    """Every loadable table has a declared schema and a primary key that
    its required columns cover, so a file that passes validation always
    carries the columns its merge keys on and its rows are filtered by;
    its key, required and PHI columns are all declared columns."""
    assert set(REQUIRED_COLUMNS) == set(PHI_COLUMNS) == set(PRIMARY_KEYS)
    assert set(PRIMARY_KEYS) < set(TABLE_SCHEMAS)
    for table, key in PRIMARY_KEYS.items():
        declared = set(TABLE_SCHEMAS[table].names)
        assert key and set(key) <= set(REQUIRED_COLUMNS[table]) <= declared, table
        assert set(PHI_COLUMNS[table]) <= declared, table


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
    """An ingest that skips every file runs no Spark job: the skip check
    and the schema-error, quality and metadata appends run on the driver
    with pyarrow. Loading one file runs 1 or 2 jobs, the merge's shuffle
    and write and nothing else. The header comes from the encoding probe,
    not from a job. A counting pass over the file or a bookkeeping step
    back on Spark breaks the upper bound; a pool worker that drops the
    caller's job group breaks the lower one. Checked for a first load and
    for a reload with one update and one insert."""
    cfg = _cfg(tmp_path)
    (input_dir / "cases_20240101.txt").write_text(CASES_V1)
    ingest(spark, cfg)
    for name, body, counts in (
        ("people_20240101.txt", PEOPLE_V1, (3, 0)),
        ("people_20240201.txt", PEOPLE_V2, (1, 1)),
    ):
        reports = []
        idle = _spark_jobs(spark, lambda: reports.append(ingest(spark, cfg)))
        assert reports[0].tasks and len(reports[0].skipped) == len(reports[0].tasks)
        assert idle == 0, (name, idle)
        (input_dir / name).write_text(body)
        one_file = _spark_jobs(spark, lambda: reports.append(ingest(spark, cfg)))
        [t] = reports[1].completed
        assert (t.rows_inserted, t.rows_updated) == counts
        assert 1 <= one_file <= 2, (name, one_file)


def test_idle_ingests_make_no_commit(tmp_path, spark, input_dir):
    """etl_metadata records loaded and failed files, not skipped ones: an
    ingest that skips every file stages nothing, so repeated idle ticks
    leave the head and the load log as they were."""
    cfg = _cfg(tmp_path)
    (input_dir / "people_20240101.txt").write_text(PEOPLE_V1)
    (input_dir / "cases_20240101.txt").write_text(CASES_V1)
    assert len(ingest(spark, cfg).completed) == 2
    wh = Warehouse(spark, cfg.warehouse_dir)
    head = wh.head()
    meta = sorted(tuple(r) for r in wh.read("etl_metadata").collect())
    assert len(meta) == 2
    for _ in range(3):
        report = ingest(spark, cfg)
        assert len(report.skipped) == 2 and not report.completed
        assert wh.head() == head
    assert sorted(tuple(r) for r in wh.read("etl_metadata").collect()) == meta


def test_bookkeeping_mixes_spark_and_pyarrow_files(tmp_path, spark, input_dir):
    """The upgrade path of every existing warehouse: a bookkeeping
    table's live version is a file Spark wrote (as earlier releases
    appended it), and the next append on the driver rewrites its rows
    and the new ones with pyarrow as one file. Spark reads that file with
    TimestampType columns and equal values, the quality rollup matches
    one written by Spark alone, and the skip check finds files that
    either writer recorded."""
    from datetime import datetime

    from pyspark.sql.types import TimestampType

    from calaveras_uniteus_etl_spark import etl

    (input_dir / "people_20240101.txt").write_text(PEOPLE_V1)
    (input_dir / "cases_20240101.txt").write_text(CASES_V1)
    md5 = {n: hashlib.md5(b.encode()).hexdigest() for n, b in
           (("people_20240101.txt", PEOPLE_V1), ("cases_20240101.txt", CASES_V1))}
    t0, t1 = datetime(2024, 1, 1, 10, 0, 0, 123456), datetime(2024, 2, 1, 9, 30)
    older = {
        "etl_metadata": [("people_20240101.txt", "people", "20240101", md5["people_20240101.txt"],
                          3, 3, 0, "completed", None, "manual", t0, t0)],
        "data_quality_issues": [("people", "people_20240101.txt", "null_values",
                                 "people_created_at", 1, "1 null values", t0)],
    }
    newer = {
        "etl_metadata": [("cases_20240101.txt", "cases", "20240101", md5["cases_20240101.txt"],
                          3, 3, 0, "completed", None, "manual", t1, t1),
                         ("referrals_20240101.txt", "referrals", "20240101", "f" * 32,
                          0, 0, 0, "failed", "boom", "manual", t1, None)],
        "data_quality_issues": [("cases", "cases_20240101.txt", "null_values", "case_closed_at", 3,
                                 "3 null values", t1),
                                ("people", "people_20240201.txt", "all_null_row", None, 1,
                                 "dropped 1 fully-null rows", t1)],
    }
    cfg = _cfg(tmp_path)
    wh = Warehouse(spark, cfg.warehouse_dir)
    alone = Warehouse(spark, str(tmp_path / "spark_only"))
    for table, rows in older.items():
        wh.write(table, spark.createDataFrame(rows, TABLE_SCHEMAS[table]))
        spark_files = [f for f in os.listdir(wh.path(table)) if f.endswith(".parquet")]
        etl._append_rows(wh, table, newer[table])
        alone.write(table, spark.createDataFrame(rows + newer[table], TABLE_SCHEMAS[table]))
        live = [f for f in os.listdir(wh.path(table)) if f.endswith(".parquet")]
        # Spark names its files part-<task>-<uuid>-c000.snappy.parquet, the row writer part-<hex>.parquet
        assert spark_files and all(f.endswith(".snappy.parquet") for f in spark_files)
        assert len(live) == 1 and not live[0].endswith(".snappy.parquet")

        df = wh.read(table)
        stamps = [f.name for f in TABLE_SCHEMAS[table] if isinstance(f.dataType, TimestampType)]
        assert [df.schema[c].dataType for c in stamps] == [TimestampType()] * len(stamps)
        assert sorted(tuple(r) for r in df.collect()) == sorted(rows + newer[table])

    rollup = sorted(tuple(r) for r in etl.quality_summary(wh).collect())
    assert rollup == sorted(tuple(r) for r in etl.quality_summary(alone).collect())
    assert ("total", None, 5) in rollup

    candidates = [(n, h) for n, h in md5.items()] + [("referrals_20240101.txt", "f" * 32)]
    assert etl._processed_subset(wh, candidates) == set(md5.items())
    report = ingest(spark, cfg)
    assert {t.file_name for t in report.skipped} == set(md5) and not report.completed


def _data_tables(wh):
    """Each loaded data table's rows, audit stamps left out (they carry
    the job's start time)."""
    audit = {"etl_loaded_at", "etl_updated_at"}
    return {
        t: sorted(
            tuple(r) for r in wh.read(t).select([c for c in wh.read(t).columns if c not in audit]).collect()
        )
        for t in ("people", "cases")
    }


def _bookkeeping(wh):
    """The job's schema-error and quality rows, creation stamps left out."""
    return {
        t: sorted(tuple(r) for r in wh.read(t).drop("created_at").collect())
        for t in ("data_quality_issues", "schema_errors")
    }


@pytest.mark.parametrize("crash", ["row_writer", "pointer_replace"])
def test_crash_in_metadata_append_reruns_to_one_record_per_file(tmp_path, spark, crash, monkeypatch):
    """A crash while the load record is written, or at the head replace
    that commits the job, leaves every table of the job at its pre-job
    version: no data table, no quality or schema-error row, no load
    record is live. The re-run loads the files again and ends with the
    data, quality and schema-error tables of a clean single run and
    exactly one completed row per file."""
    from calaveras_uniteus_etl_spark import warehouse as W

    def load(root):
        inp = root / "input"
        inp.mkdir(parents=True)
        (inp / "people_20240101.txt").write_text(PEOPLE_V1)
        (inp / "cases_20240101.txt").write_text(CASES_V1)
        (inp / "referrals_20240101.txt").write_text("referral_id|no_such_column\nr1|x\n")
        return ETLConfig(input_dir=str(inp), warehouse_dir=str(root / "warehouse"),
                         phi=PHIConfig(enabled=False))

    clean_cfg = load(tmp_path / "clean")
    ingest(spark, clean_cfg)
    clean = Warehouse(spark, clean_cfg.warehouse_dir)
    assert all(_bookkeeping(clean).values())  # the job logs rows of both kinds

    cfg = load(tmp_path / "crashed")
    wh = Warehouse(spark, cfg.warehouse_dir)
    write_rows = Warehouse.write_rows

    def boom(*a, **k):
        raise OSError("injected crash")

    def crashing_write_rows(self, table, *a, **k):
        if table == "etl_metadata" and crash == "row_writer":
            boom()
        return write_rows(self, table, *a, **k)

    with monkeypatch.context() as m, pytest.raises(OSError, match="injected crash"):
        m.setattr(Warehouse, "write_rows", crashing_write_rows)
        if crash == "pointer_replace":
            m.setattr(W.os, "replace", boom)
        ingest(spark, cfg)
    tables = ("people", "cases", "data_quality_issues", "schema_errors", "etl_metadata")
    assert not any(wh.exists(t) for t in tables)

    report = ingest(spark, cfg)
    assert len(report.completed) == 2 and not report.skipped
    assert _bookkeeping(wh) == _bookkeeping(clean)
    assert len(ingest(spark, cfg).skipped) == 2
    meta = wh.read("etl_metadata").filter(F.col("status") == "completed").collect()
    assert sorted(r.file_name for r in meta) == ["cases_20240101.txt", "people_20240101.txt"]
    assert _data_tables(wh) == _data_tables(clean)


def test_bookkeeping_tables_stay_one_file(tmp_path, spark, input_dir):
    """Each job is one warehouse commit, and it rewrites the live rows of
    etl_metadata, data_quality_issues and schema_errors with its own as
    one file, so after five jobs each table's live version still holds
    one parquet file with every job's rows."""
    cfg = _cfg(tmp_path)
    wh = Warehouse(spark, cfg.warehouse_dir)
    # fails its schema check in every job, so every job logs schema errors
    (input_dir / "referrals_20240101.txt").write_text("referral_id|no_such_column\nr1|x\n")
    for day in range(1, 6):
        (input_dir / f"people_2024010{day}.txt").write_text(PEOPLE_V1)
        report = ingest(spark, cfg)
        assert len(report.completed) == 1 and len(report.failed) == 1
        assert os.path.basename(wh.head()) == f"c{day - 1}"  # one commit per job
    for table in ("etl_metadata", "data_quality_issues", "schema_errors"):
        assert len([f for f in os.listdir(wh.path(table)) if f.endswith(".parquet")]) == 1, table
    assert wh.read("etl_metadata").filter(F.col("status") == "completed").count() == 5
    assert wh.read("data_quality_issues").select("file_name").distinct().count() == 5
