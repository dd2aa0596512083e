"""Parquet-backed warehouse, the engine's table store in place of the
reference's SQLite data DB (reference core/database.py). Every
write fills a new version directory ``<root>/_versions/<table>/v<N>/``
and commits it by one atomic replace of the ``<root>/<table>`` symlink;
nothing writes to a version after that. A reader sees the old table or
the new one, as under the reference's WAL mode, and a failed or crashed
write leaves the old one live.

A version is filled one of two ways: ``write`` runs a Spark job over a
DataFrame (the data tables), ``write_rows`` writes rows the driver
already holds as one parquet file with pyarrow, no Spark job (the load
record, quality log, schema errors, sync config and SFTP listings).
Both store timestamps as UTC instants, so Spark reads either file as
``TimestampType``; ``read_rows`` scans the live version with pyarrow.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from calaveras_uniteus_etl_spark.schema import TABLE_SCHEMAS

# Superseded versions kept beside the current one; older ones are deleted.
RETAINED_VERSIONS = 2

# the parquet footer key under which Spark stores a file's Spark schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# (applicationId, table path, version directory, file listing) ->
# resolved DataFrame. Only misses mutate it, under the lock, so any
# thread may read it.
_READ_MEMO: dict[tuple[str, str, str, tuple], DataFrame] = {}
_READ_MEMO_LOCK = threading.Lock()


def _listing(root: str) -> tuple[tuple[str, int, int], ...]:
    """Sorted (relative path, size, mtime_ns) of every file under root."""
    out = []
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out.append((os.path.join(d[len(root) + 1:], n), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _footer_schema(version: str, files: tuple) -> StructType | None:
    """The Spark schema stored in the footer of the version's first data
    file, the one Spark's own inference would read, without its one-task
    job. None for a partitioned version (its partition columns come from
    the paths) or a file that stores no Spark schema."""
    if any(os.sep in rel for rel, _, _ in files):
        return None
    data = [rel for rel, _, _ in files if rel.endswith(".parquet") and not rel.startswith((".", "_"))]
    if not data:
        return None
    stored = (pq.read_metadata(os.path.join(version, data[0])).metadata or {}).get(_SPARK_SCHEMA_KEY)
    return None if stored is None else StructType.fromJson(json.loads(stored))


def _link_files(src: str, dst: str) -> None:
    """Hard-link src's parquet files and their .crc side files into dst,
    keeping partition subdirectories. Never ``_SUCCESS``: Hadoop
    rewrites it in place, which through a link would change src."""
    for d, _, names in os.walk(src):
        out = os.path.join(dst, os.path.relpath(d, src))
        for n in names:
            if n.endswith((".parquet", ".parquet.crc")):
                os.makedirs(out, exist_ok=True)
                os.link(os.path.join(d, n), os.path.join(out, n))


class Warehouse:
    """Table store over ``root``; ``<root>/<table>/*.parquet`` names the
    live files. ``read`` resolves the table's link once and memoizes the
    lazy DataFrame by (applicationId, table path, version directory,
    sorted (relative path, size, mtime_ns) of every file under it); no
    rows are cached, and a scan planned before a commit keeps its files.
    Every write commits a new version, so the next read misses and drops
    the path's older entry and any dead session's entries. A miss takes
    the schema Spark stored in a file footer, read on the driver, so it
    runs no schema-inference job.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))  # only a commit makes the path

    # column renames shipped after warehouses existed: old name -> new.
    # read() aliases on the fly so pre-rename tables keep working; the
    # next overwrite persists the new name.
    _LEGACY_RENAMES = {
        "assistance_requests": {"housing_status": "housing_current_status"},
    }

    def read(self, table: str) -> DataFrame:
        path = os.path.abspath(self.path(table))
        version = os.path.realpath(path)
        files = _listing(version)
        if not files:
            if table in TABLE_SCHEMAS:
                # limit 0: the optimizer sees the frame is empty and prunes it
                return self.spark.createDataFrame([], TABLE_SCHEMAS[table]).limit(0)
            raise FileNotFoundError(f"table {table!r} not found in warehouse")
        app_id = self.spark.sparkContext.applicationId
        key = (app_id, path, version, files)
        hit = _READ_MEMO.get(key)
        if hit is not None:
            return hit
        reader = self.spark.read
        schema = _footer_schema(version, files)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(version)
        for old, new in self._LEGACY_RENAMES.get(table, {}).items():
            if old in df.columns and new not in df.columns:
                df = df.withColumnRenamed(old, new)
        with _READ_MEMO_LOCK:
            for k in [k for k in _READ_MEMO if k[0] != app_id or k[1] == path]:
                del _READ_MEMO[k]
            _READ_MEMO[key] = df
        return df

    def write(
        self,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        """Commit ``df`` as a new version; ``append`` links the current
        version's files in beside it. A plan that reads the table it
        replaces (the merge-upsert shape) reads an untouched version."""

        def fill(version: str) -> None:
            writer = df.write.mode("append")  # into the empty reserved directory
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(version)

        self._commit(table, fill, append=mode == "append")

    def write_rows(
        self, table: str, rows: list[tuple], schema: StructType, mode: str = "overwrite"
    ) -> None:
        """Commit driver-held ``rows`` (tuples in ``schema`` order) as a
        new version holding one parquet file, written with pyarrow: no
        Spark job. Datetimes must be naive UTC: pyarrow stores an aware
        one's wall clock as UTC. The footer stores ``schema`` where Spark
        stores its own. ``append`` links the current version's
        files in beside it, as ``write`` does."""
        arrow = to_arrow_schema(schema).with_metadata({_SPARK_SCHEMA_KEY: schema.json()})
        columns = list(zip(*rows)) or [()] * len(arrow)
        data = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
        )
        self._commit(
            table,
            lambda version: pq.write_table(data, os.path.join(version, f"part-{uuid.uuid4().hex}.parquet")),
            append=mode == "append",
        )

    def read_rows(self, table: str, schema: StructType, filter) -> pa.Table:
        """The live version's ``schema`` columns, scanned on the driver
        with pyarrow: no Spark job. ``filter`` is a pyarrow expression
        applied during the scan, so only matching rows are kept."""
        arrow = to_arrow_schema(schema)
        if not self.exists(table):
            return arrow.empty_table()
        version = os.path.realpath(self.path(table))  # resolved once
        return ds.dataset(version, schema=arrow, format="parquet").to_table(filter=filter)

    def restore(self, table: str, version: int) -> None:
        """Commit a retained version again as hard links; undoable like any write."""
        src = self._retained(table, version)
        self._commit(table, lambda new: _link_files(src, new))

    def read_version(self, table: str, version: int) -> DataFrame:
        """Read a retained superseded version of a table."""
        return self.spark.read.parquet(self._retained(table, version))

    def list_snapshots(self, table: str) -> list[int]:
        """Retained superseded version numbers, oldest first."""
        current = self._current(table)
        return [n for n in self._numbers(table) if current is not None and n < current]

    def _retained(self, table: str, version: int) -> str:
        kept = self.list_snapshots(table)
        if version not in kept:
            raise FileNotFoundError(f"table {table!r} has no retained version {version}; available: {kept}")
        return self._version_path(table, version)

    def _commit(self, table: str, fill, append: bool = False) -> None:
        """Reserve a version, ``fill(it)``, link the current version's
        files in if ``append``, make it live, prune."""
        path = self.path(table)
        if os.path.isdir(path) and not os.path.islink(path):
            # a table from before versions: adopt it, the one non-atomic step
            adopted = self._reserve(table)
            os.rename(path, adopted)
            self._point(table, adopted)
        current = self._current(table)
        version = self._reserve(table)
        fill(version)
        if append and current is not None:
            _link_files(self._version_path(table, current), version)
        self._point(table, version)
        self._prune(table, current, int(os.path.basename(version)[1:]))

    def _point(self, table: str, version: str) -> None:
        # the link is made inside the version, so a pruned version
        # cannot be made live, and a crash leaves it where prune looks
        link = os.path.join(version, "_commit")
        os.symlink(os.path.relpath(version, self.root), link)
        os.replace(link, self.path(table))

    def _version_path(self, table: str, version: int) -> str:
        return os.path.join(self.root, "_versions", table, f"v{version:08d}")

    def _numbers(self, table: str) -> list[int]:
        """Every version on disk, committed or not; nothing else lives there."""
        d = os.path.dirname(self._version_path(table, 0))
        return sorted(int(n[1:]) for n in (os.listdir(d) if os.path.isdir(d) else []))

    def _current(self, table: str) -> int | None:
        try:
            return int(os.path.basename(os.readlink(self.path(table)))[1:])
        except OSError:  # no table, or one from before versions
            return None

    def _reserve(self, table: str) -> str:
        """Create the next version directory; makedirs fails on a number another writer took."""
        while True:
            version = self._version_path(table, max(self._numbers(table), default=-1) + 1)
            try:
                os.makedirs(version)
                return version
            except FileExistsError:
                continue

    def _prune(self, table: str, previous: int | None, new: int) -> None:
        """Keep ``new`` and the last RETAINED_VERSIONS up to ``previous``;
        delete every other older version, committed or not."""
        numbers = self._numbers(table)
        keep = {new, *[n for n in numbers if previous is not None and n <= previous][-RETAINED_VERSIONS:]}
        for n in numbers:
            if n < new and n not in keep:
                shutil.rmtree(self._version_path(table, n), ignore_errors=True)
