"""Filename routing, dating, hashing, discovery, latest-only
(reference semantics: etl_service.py:184-370, 1293-1306)."""

from __future__ import annotations

import hashlib
import os

from calaveras_uniteus_etl_spark.sources.discovery import (
    TaskStatus,
    discover_files,
    extract_file_date,
    extract_table_name,
    file_md5,
    latest_only,
)


def test_table_name_strips_prefix_and_date():
    assert extract_table_name("SAMPLE_people_20250828.txt") == "people"
    assert extract_table_name("CHHSCA_cases_20240101.csv") == "cases"
    assert extract_table_name("TEST_SAMPLE_referrals_20240101.txt") == "referrals"
    assert extract_table_name("people.txt") == "people"
    assert (
        extract_table_name("assistance_requests_20240101.tsv")
        == "assistance_requests"
    )


def test_table_name_wildcard_mapping_wins():
    m = {"weird_*.txt": "people"}
    assert extract_table_name("weird_stuff_20240101.txt", mappings=m) == "people"


def test_file_date_from_name_else_mtime(tmp_path):
    assert extract_file_date("people_20250828.txt") == "20250828"
    p = tmp_path / "people.txt"
    p.write_text("person_id\np1\n")
    assert len(extract_file_date("people.txt", str(p))) == 8


def test_md5_and_skip_processed(tmp_path):
    p = tmp_path / "people_20240101.txt"
    p.write_text("person_id|first_name\np1|John\n")
    # discovery hashes every file and leaves the skip to etl.ingest
    # (test_etl_pipeline::test_ingest_upsert_and_skip)
    [task] = discover_files(str(tmp_path))
    assert task.file_hash == file_md5(str(p)) == hashlib.md5(p.read_bytes()).hexdigest()
    assert task.status == TaskStatus.PENDING


def test_latest_only_keeps_newest_per_table(tmp_path):
    for name in ("people_20240101.txt", "people_20240301.txt", "cases_20240201.txt"):
        (tmp_path / name).write_text("id\n1\n")
    tasks = latest_only(discover_files(str(tmp_path)))
    kept = {t.file_name for t in tasks if t.status == TaskStatus.PENDING}
    assert kept == {"people_20240301.txt", "cases_20240201.txt"}
    assert {t.file_name for t in tasks if t.status == TaskStatus.SKIPPED} == {
        "people_20240101.txt"
    }


def test_selected_files_filter(tmp_path):
    for name in ("people_20240101.txt", "cases_20240101.txt"):
        (tmp_path / name).write_text("id\n1\n")
    tasks = discover_files(str(tmp_path), selected_files={"cases_20240101.txt"})
    assert [t.file_name for t in tasks] == ["cases_20240101.txt"]
