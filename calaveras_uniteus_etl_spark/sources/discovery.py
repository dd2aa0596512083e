"""File discovery, table routing, file dating, content hashing
(SURVEY.md A2-A5; reference /root/reference/core/etl_service.py:
184-370).

These are driver-side pure functions by design: they operate on file
*listings* (thousands of entries), never file *contents* — the only
content touch is the md5 identity hash, streamed in chunks. At cluster
scale the listing comes from the object store API; nothing here needs
to be distributed.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone
from enum import Enum

from calaveras_uniteus_etl_spark.config import FILE_PATTERNS, FILENAME_PREFIXES

_DATE_TOKEN = re.compile(r"(\d{8})")


class TaskStatus(str, Enum):
    PENDING = "pending"
    SKIPPED = "skipped"
    COMPLETED = "completed"
    FAILED = "failed"


@dataclass
class FileProcessingTask:
    """Unit of ingest work (reference dataclass, etl_service.py:49-93)."""

    path: str
    file_name: str
    table_name: str
    file_date: str
    file_hash: str
    status: TaskStatus = TaskStatus.PENDING
    error: str | None = None
    rows_inserted: int = 0
    rows_updated: int = 0
    details: dict = field(default_factory=dict)


def extract_table_name(
    file_name: str,
    mappings: dict[str, str] | None = None,
    prefixes: tuple[str, ...] = FILENAME_PREFIXES,
) -> str:
    """Filename → table routing (reference etl_service.py:264-335).

    Explicit wildcard mappings win; otherwise strip configured
    prefixes and a trailing YYYYMMDD token. Example:
    ``SAMPLE_chhsca_people_20250828.txt`` → ``people``.
    """
    stem = os.path.splitext(file_name)[0]
    if mappings:
        for pattern, target in mappings.items():
            regex = "^" + re.escape(pattern).replace(r"\*", ".*") + "$"
            if re.match(regex, file_name, flags=re.IGNORECASE):
                return target
    parts = stem.split("_")
    # strip leading configured prefixes (case-insensitive), repeatedly
    upper_prefixes = {p.upper() for p in prefixes}
    while parts and parts[0].upper() in upper_prefixes:
        parts = parts[1:]
    # strip trailing date token
    if parts and _DATE_TOKEN.fullmatch(parts[-1]):
        parts = parts[:-1]
    return "_".join(parts).lower()


def extract_file_date(file_name: str, path: str | None = None) -> str:
    """YYYYMMDD token from the filename, else file mtime
    (reference etl_service.py:337-362)."""
    m = _DATE_TOKEN.search(os.path.splitext(file_name)[0])
    if m:
        return m.group(1)
    if path and os.path.exists(path):
        mtime = datetime.fromtimestamp(os.path.getmtime(path), tz=timezone.utc)
        return mtime.strftime("%Y%m%d")
    return ""


def file_md5(path: str, chunk_size: int = 4096) -> str:
    """Chunked md5 content hash (reference etl_service.py:364-370)."""
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(chunk_size), b""):
            h.update(chunk)
    return h.hexdigest()


def discover_files(
    input_dir: str,
    selected_files: set[str] | None = None,
    mappings: dict[str, str] | None = None,
    patterns: tuple[str, ...] = FILE_PATTERNS,
) -> list[FileProcessingTask]:
    """Build the ingest task list (reference etl_service.py:184-244),
    every task PENDING; ``etl.ingest`` marks the loaded ones SKIPPED."""
    paths: list[str] = []
    for pattern in patterns:
        paths.extend(glob.glob(os.path.join(input_dir, pattern)))
    tasks: list[FileProcessingTask] = []
    for path in sorted(paths):
        name = os.path.basename(path)
        if selected_files is not None and name not in selected_files:
            continue
        tasks.append(
            FileProcessingTask(
                path=path,
                file_name=name,
                table_name=extract_table_name(name, mappings),
                file_date=extract_file_date(name, path),
                file_hash=file_md5(path),
            )
        )
    return tasks


def latest_only(tasks: list[FileProcessingTask]) -> list[FileProcessingTask]:
    """Keep the newest file per table (reference etl_service.py:
    1293-1306); older ones come back SKIPPED."""
    best: dict[str, FileProcessingTask] = {}
    for t in tasks:
        if t.status == TaskStatus.SKIPPED:
            continue
        cur = best.get(t.table_name)
        if cur is None or t.file_date > cur.file_date:
            best[t.table_name] = t
    out = []
    for t in tasks:
        if t.status != TaskStatus.SKIPPED and best.get(t.table_name) is not t:
            t.status = TaskStatus.SKIPPED
        out.append(t)
    return out
