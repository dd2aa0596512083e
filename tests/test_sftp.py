"""SFTP fetch stage (SURVEY.md A6): fake-transport-backed tests — the
reference's paramiko service is a network boundary, so the stage is
exercised end-to-end with an in-memory client landing real files that
``ingest`` then discovers (mirroring the reference's
download-then-process hook, core/etl_service.py:1134-1158)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from calaveras_uniteus_etl_spark.config import ETLConfig, PHIConfig
from calaveras_uniteus_etl_spark.etl import ingest
from calaveras_uniteus_etl_spark.sources.sftp import (
    FetchResult,
    RemoteFile,
    SFTPStage,
)
from calaveras_uniteus_etl_spark.warehouse import Warehouse

PEOPLE_TXT = (
    "person_id|first_name|last_name\n"
    "p1|Ann|Ayes\n"
    "p2|Bob|Bee\n"
)

_MTIME = datetime(2025, 1, 15, 12, 0, 0, tzinfo=timezone.utc)


class FakeClient:
    """In-memory transport: path → bytes, with optional failures."""

    def __init__(self, files: dict[str, str], fail: set[str] = frozenset()):
        self.files = files
        self.fail = set(fail)
        self.downloads: list[str] = []

    def list_files(self, remote_dir: str) -> list[RemoteFile]:
        return [
            RemoteFile(
                filename=name,
                remote_path=f"{remote_dir}/{name}",
                size=len(body),
                modified_time=_MTIME,
            )
            for name, body in sorted(self.files.items())
        ]

    def download(self, remote_path: str, local_path: str) -> None:
        name = remote_path.rsplit("/", 1)[1]
        if name in self.fail:
            raise IOError("connection reset")
        self.downloads.append(name)
        with open(local_path, "w", encoding="utf-8") as f:
            f.write(self.files[name])


def test_discover_filters_patterns(tmp_path):
    client = FakeClient(
        {"people_20250115.txt": PEOPLE_TXT, "readme.md": "x", "backup.zip": "y"}
    )
    stage = SFTPStage(client, "/remote/in", str(tmp_path / "land"))
    names = [f.filename for f in stage.discover()]
    assert names == ["people_20250115.txt"]  # .md/.zip not ingestable


def test_fetch_lands_files_and_isolates_failures(tmp_path):
    client = FakeClient(
        {"people_20250115.txt": PEOPLE_TXT, "cases_20250115.csv": "case_id\nc1\n"},
        fail={"cases_20250115.csv"},
    )
    stage = SFTPStage(client, "/remote/in", str(tmp_path / "land"))
    results = {r.filename: r for r in stage.fetch()}
    ok = results["people_20250115.txt"]
    assert ok.success and ok.size == len(PEOPLE_TXT)
    bad = results["cases_20250115.csv"]
    assert not bad.success and "connection reset" in bad.error


def test_fetched_dir_feeds_ingest_and_sync_recorded(tmp_path, spark):
    landing = tmp_path / "land"
    client = FakeClient({"people_20250115.txt": PEOPLE_TXT})
    stage = SFTPStage(client, "/remote/in", str(landing))
    files = stage.discover()
    assert all(r.success for r in stage.fetch(files))

    config = ETLConfig(
        input_dir=str(landing),
        warehouse_dir=str(tmp_path / "warehouse"),
        phi=PHIConfig(enabled=False),
    )
    report = ingest(spark, config)
    assert [t.table_name for t in report.completed] == ["people"]
    wh = Warehouse(spark, config.warehouse_dir)
    assert wh.read("people").count() == 2

    stage.record_sync(wh, files, synced_by="tester", sync_time=_MTIME.replace(tzinfo=None))
    row = wh.read("sftp_cache").collect()[0]
    assert row.file_count == 1 and row.synced_by == "tester"
    assert "people_20250115.txt" in row.file_list

    # second pull of the identical file: md5 identity skips it
    stage.fetch(files)
    report2 = ingest(spark, config)
    assert [t.file_name for t in report2.skipped] == ["people_20250115.txt"]


def test_paramiko_client_is_import_gated():
    try:
        import paramiko  # noqa: F401

        pytest.skip("paramiko installed; gate not exercisable")
    except ImportError:
        pass
    from calaveras_uniteus_etl_spark.sources.sftp import ParamikoSFTPClient

    with pytest.raises(ImportError, match="paramiko not installed"):
        ParamikoSFTPClient(host="example.invalid")


def test_fetch_rejects_traversal_filenames(tmp_path):
    """A hostile listing with path separators must not escape the
    landing dir (server-controlled field; same contract as staging)."""
    evil = "../../evil_people_20250101.txt"
    client = FakeClient({evil: PEOPLE_TXT, "ok_people_20250101.txt": PEOPLE_TXT})
    landing = tmp_path / "landing"
    stage = SFTPStage(client, remote_dir="/in", landing_dir=str(landing))
    results = {r.filename: r for r in stage.fetch()}
    assert not results[evil].success
    assert "invalid remote filename" in results[evil].error
    assert results["ok_people_20250101.txt"].success
    assert not (tmp_path / "evil_people_20250101.txt").exists()


class PartialWriteClient(FakeClient):
    """Writes half the payload, then dies — a mid-transfer failure."""

    def download(self, remote_path: str, local_path: str) -> None:
        name = remote_path.rsplit("/", 1)[1]
        body = self.files[name]
        with open(local_path, "w", encoding="utf-8") as f:
            f.write(body[: len(body) // 2])
        raise IOError("connection reset mid-transfer")


def test_fetch_cleans_up_partial_files(tmp_path):
    """A dead transfer must not leave a truncated file where ingest
    would discover and load it as valid data."""
    client = PartialWriteClient({"people_20250101.txt": PEOPLE_TXT})
    landing = tmp_path / "landing"
    stage = SFTPStage(client, remote_dir="/in", landing_dir=str(landing))
    [res] = stage.fetch()
    assert not res.success
    assert not (landing / "people_20250101.txt").exists()
