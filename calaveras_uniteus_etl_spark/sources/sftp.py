"""SFTP pull source (SURVEY.md A6; reference core/sftp_service.py,
auto-download hook core/etl_service.py:1134-1158).

A fetch STAGE, not a query operator: remote files land in a local
directory that ``etl.ingest`` then discovers — the engine never reads
over SFTP directly (at cluster scale the landing dir is the object
store the executors scan). The design splits transport from
orchestration so the transport is swappable and mock-testable:

- ``SFTPClient`` is the minimal transport protocol (list/download);
- ``ParamikoSFTPClient`` is the real key-authenticated transport,
  gated behind an import-try exactly like the reference (which
  disables SFTP when paramiko is missing);
- ``SFTPStage`` filters listings to the configured file patterns,
  lands files, and records each sync in the ``sftp_cache`` warehouse
  table (reference core/database_schema.py:383-389) so the listing
  history is queryable like any other table.

Incremental-skip still happens in ``ingest`` (md5 identity) — the
stage deliberately re-lands files and lets the pipeline's one skip
mechanism decide, instead of inventing a second cache-based one.
"""

from __future__ import annotations

import fnmatch
import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Protocol

from calaveras_uniteus_etl_spark.config import FILE_PATTERNS
from calaveras_uniteus_etl_spark.schema import TABLE_SCHEMAS
from calaveras_uniteus_etl_spark.warehouse import Warehouse


@dataclass(frozen=True)
class RemoteFile:
    """Listing entry (reference SFTPFileInfo, sftp_service.py:47-63)."""

    filename: str
    remote_path: str
    size: int
    modified_time: datetime


@dataclass
class FetchResult:
    """Per-file download outcome (reference SFTPDownloadResult)."""

    filename: str
    success: bool
    local_path: str | None = None
    size: int = 0
    error: str | None = None


class SFTPClient(Protocol):
    """Minimal transport contract the stage needs."""

    def list_files(self, remote_dir: str) -> list[RemoteFile]: ...

    def download(self, remote_path: str, local_path: str) -> None: ...


class ParamikoSFTPClient:
    """Key-authenticated paramiko transport (reference
    sftp_service.py:88-310). Import-gated: constructing it without
    paramiko installed raises with the same remediation message the
    reference logs."""

    def __init__(
        self,
        host: str,
        port: int = 22,
        username: str | None = None,
        key_path: str | None = None,
        password: str | None = None,
        timeout: float = 30.0,
    ) -> None:
        try:
            import paramiko  # noqa: F401
        except ImportError as exc:  # pragma: no cover - env-dependent
            raise ImportError(
                "paramiko not installed - SFTP functionality disabled"
            ) from exc
        self._cfg = dict(
            hostname=host, port=port, username=username, timeout=timeout
        )
        self._key_path = key_path
        self._password = password
        self._client = None

    def _sftp(self):  # pragma: no cover - requires a live server
        import paramiko

        if self._client is None:
            ssh = paramiko.SSHClient()
            ssh.set_missing_host_key_policy(paramiko.AutoAddPolicy())
            ssh.connect(
                key_filename=self._key_path,
                password=self._password,
                **self._cfg,
            )
            self._client = ssh.open_sftp()
        return self._client

    def list_files(self, remote_dir: str) -> list[RemoteFile]:  # pragma: no cover
        out = []
        for entry in self._sftp().listdir_attr(remote_dir):
            import stat as _stat

            if _stat.S_ISDIR(entry.st_mode):
                continue
            out.append(
                RemoteFile(
                    filename=entry.filename,
                    remote_path=f"{remote_dir.rstrip('/')}/{entry.filename}",
                    size=entry.st_size or 0,
                    modified_time=datetime.fromtimestamp(
                        entry.st_mtime or 0, tz=timezone.utc
                    ),
                )
            )
        return out

    def download(self, remote_path: str, local_path: str) -> None:  # pragma: no cover
        self._sftp().get(remote_path, local_path)


class SFTPStage:
    """Fetch stage: list → pattern-filter → land → record sync."""

    def __init__(
        self,
        client: SFTPClient,
        remote_dir: str,
        landing_dir: str,
        patterns: tuple[str, ...] = FILE_PATTERNS,
    ) -> None:
        self.client = client
        self.remote_dir = remote_dir
        self.landing_dir = landing_dir
        self.patterns = patterns

    def discover(self) -> list[RemoteFile]:
        """Remote listing filtered to ingestable patterns (reference
        sftp_service.py:309-353 list_files + pattern filter)."""
        return [
            f
            for f in self.client.list_files(self.remote_dir)
            if any(fnmatch.fnmatch(f.filename, p) for p in self.patterns)
        ]

    def fetch(self, files: list[RemoteFile] | None = None) -> list[FetchResult]:
        """Land remote files locally; per-file failures don't abort the
        batch (reference download_files, sftp_service.py:539-629)."""
        os.makedirs(self.landing_dir, exist_ok=True)
        results: list[FetchResult] = []
        for f in files if files is not None else self.discover():
            local = os.path.join(self.landing_dir, f.filename)
            try:
                # the filename is a server-controlled field: reject path
                # separators so a hostile listing can't escape the
                # landing dir (same contract as sources/staging.py)
                if not f.filename or os.path.basename(f.filename) != f.filename:
                    raise ValueError(f"invalid remote filename: {f.filename!r}")
                self.client.download(f.remote_path, local)
                results.append(
                    FetchResult(
                        filename=f.filename,
                        success=True,
                        local_path=local,
                        size=os.path.getsize(local),
                    )
                )
            except Exception as exc:  # noqa: BLE001 - file-scoped failure
                # a dead transfer must not leave a truncated file where
                # ingest would discover and load it as valid data
                if os.path.isfile(local):
                    os.remove(local)
                results.append(
                    FetchResult(
                        filename=f.filename, success=False, error=str(exc)[:500]
                    )
                )
        return results

    def record_sync(
        self,
        wh: Warehouse,
        files: list[RemoteFile],
        synced_by: str = "system",
        sync_time: datetime | None = None,
    ) -> None:
        """Append one listing snapshot to sftp_cache (reference caches
        the JSON file list per sync, database_schema.py:383-389)."""
        if sync_time is None:
            sync_time = datetime.now(tz=timezone.utc)
        if sync_time.tzinfo is not None:
            # normalize to naive UTC like every other stored timestamp,
            # so mixed callers can't produce inconsistently-shifted rows
            sync_time = sync_time.astimezone(timezone.utc).replace(tzinfo=None)
        row = (
            sync_time,
            json.dumps(
                [
                    {
                        "filename": f.filename,
                        "remote_path": f.remote_path,
                        "size": f.size,
                        "modified_time": f.modified_time.isoformat(),
                    }
                    for f in files
                ]
            ),
            len(files),
            synced_by,
        )
        wh.write_rows("sftp_cache", [row], TABLE_SCHEMAS["sftp_cache"], mode="append")
