"""Parquet-backed warehouse, the engine's table store in place of the
reference's SQLite data DB (reference core/database.py).

Table files live in immutable versions ``_versions/<table>/<id>/``. A
commit ``_commits/c<N>/`` links every table to one version, and one
atomic replace of the ``_head`` link makes it live. ``<table>`` is a
fixed link ``_head/<table>``, so ``<table>/*.parquet`` names the live
files. A request reads every table ``at`` one ``head()``, so it never
mixes two loads, as under the reference's WAL mode: one writer at a
time, and readers take no lock. A writer holds a ``flock`` on ``_lock``,
which writers in every process take, from its first read to its
commit: ``job()`` holds it for its block, stages the versions its reads
see and commits them once at its end, or not at all; a write outside a
job is a job of one write. So a one-off commit waits while a job runs.
A commit keeps the versions the last RETAINED_VERSIONS + 1 commits name
and deletes the rest. A version is flat, with no partition
directories, and each of its data files stores its Spark schema in the
footer. Before the first commit every table is absent; no layout from
before commits is read or adopted.

``write`` fills a version by a Spark job (data tables); ``write_rows``
writes driver-held rows (bookkeeping, sync config, SFTP listings) as one
parquet file with pyarrow, no Spark job, timestamps as UTC instants that
Spark reads as ``TimestampType``; ``read_rows`` scans one with pyarrow.
"""

from __future__ import annotations

import fcntl
import glob
import json
import os
import shutil
import threading
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from calaveras_uniteus_etl_spark.schema import TABLE_SCHEMAS

# Superseded commits kept beside the head, with the versions they name.
RETAINED_VERSIONS = 2

# the parquet footer key under which Spark stores a file's Spark schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

# (applicationId, version directory) -> resolved DataFrame. Only misses
# mutate it, under the lock, so any thread may read it.
_READ_MEMO: dict[tuple[str, str], DataFrame] = {}
_READ_MEMO_LOCK = threading.Lock()


def _data_files(version: str) -> list[str]:
    """Sorted names of the version's parquet data files."""
    return sorted(n for n in os.listdir(version) if n.endswith(".parquet") and not n.startswith((".", "_")))


def _footer_schema(path: str) -> StructType:
    """The Spark schema stored in the footer of the data file ``path``, the
    one Spark's own inference would read, without its one-task job. Every
    version is flat and every write path stores the key: Spark's writer,
    and ``write_rows`` by hand."""
    return StructType.fromJson(json.loads(pq.read_metadata(path).metadata[_SPARK_SCHEMA_KEY]))


def _links(commit: str) -> dict[str, str]:
    """Table -> version directory of every table ``commit`` names."""
    links = {}
    for table in os.listdir(commit):
        if not table.startswith("."):
            target = os.readlink(os.path.join(commit, table))
            links[table] = os.path.normpath(os.path.join(commit, target))
    return links


class Warehouse:
    """Table store over ``root``. ``read`` memoizes the lazy DataFrame of
    a version by (applicationId, version directory): a version never
    changes, so a hit touches no file; a miss drops the entries of pruned
    versions and dead sessions, and takes the schema Spark stored in a
    file footer, read on the driver, so it runs no inference job. No rows
    are cached, and a scan planned before a commit keeps its files.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        # resolved, so the links a commit writes relative to it and the
        # resolved head it reads them back through share one base
        self.root = os.path.realpath(root)
        self._staged: dict[str, str] | None = None  # in job(): table -> staged version
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        """The table's live path; inside a job, the version it staged."""
        return (self._staged or {}).get(table) or os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return self._version(table) is not None

    def head(self) -> str | None:
        """The live commit directory, or None before the first commit."""
        head = os.path.join(self.root, "_head")
        return os.path.realpath(head) if os.path.islink(head) else None

    def read(self, table: str, at: str | None = None) -> DataFrame:
        """The table as commit ``at`` (default: the head) holds it."""
        version = self._version(table, at)
        app_id = self.spark.sparkContext.applicationId
        key = (app_id, version)
        hit = _READ_MEMO.get(key)
        if hit is not None:
            return hit
        files = _data_files(version) if version else []
        if not files:
            if table in TABLE_SCHEMAS:
                # limit 0: the optimizer sees the frame is empty and prunes it
                return self.spark.createDataFrame([], TABLE_SCHEMAS[table]).limit(0)
            raise FileNotFoundError(f"table {table!r} not found in warehouse")
        df = self.spark.read.schema(_footer_schema(os.path.join(version, files[0]))).parquet(version)
        with _READ_MEMO_LOCK:
            for k in [k for k in _READ_MEMO if k[0] != app_id or not os.path.isdir(k[1])]:
                del _READ_MEMO[k]
            _READ_MEMO[key] = df
        return df

    def write(self, table: str, df: DataFrame) -> None:
        """Fill a new version with ``df`` by one Spark job and commit it; a
        plan that reads the table it replaces reads an untouched version."""
        self._stage(table, df.write.mode("append").parquet)  # into the empty reserved directory

    def write_rows(
        self, table: str, rows: list[tuple], schema: StructType, mode: str = "overwrite"
    ) -> None:
        """Commit driver-held ``rows`` (tuples in ``schema`` order, naive UTC
        datetimes) as a new version of one parquet file, with ``schema`` in
        the footer where Spark stores its own; ``append`` adds the live rows."""
        arrow = to_arrow_schema(schema)
        columns = list(zip(*rows)) or [()] * len(arrow)
        data = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
        )

        def fill(version: str) -> None:
            out = pa.concat_tables([self.read_rows(table, schema), data]) if mode == "append" else data
            out = out.replace_schema_metadata({_SPARK_SCHEMA_KEY: schema.json()})
            pq.write_table(out, os.path.join(version, f"part-{uuid.uuid4().hex}.parquet"))

        self._stage(table, fill)

    def read_rows(self, table: str, schema: StructType, filter=None) -> pa.Table:
        """The ``schema`` columns of the version ``read`` would read, scanned
        on the driver with pyarrow, no Spark job; ``filter`` applies in the scan."""
        arrow = to_arrow_schema(schema)
        version = self._version(table)
        if version is None:
            return arrow.empty_table()
        return ds.dataset(version, schema=arrow, format="parquet").to_table(filter=filter)

    @contextmanager
    def job(self):
        """Hold ``_lock`` for the block, stage its writes and commit them
        together at its end; an exception commits none of them. One
        writer at a time: a job, or a write outside one (a job of one
        write), waits while another Warehouse runs a job; readers take no
        lock. A job opened on this Warehouse while its job runs, from any
        thread, joins that job."""
        if self._staged is not None:
            yield
            return
        with open(os.path.join(self.root, "_lock"), "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            self._staged = {}
            try:
                yield
                if self._staged:
                    self._commit(self._staged)
            finally:
                self._staged = None

    def _version(self, table: str, at: str | None = None) -> str | None:
        """The directory ``table`` reads from: the version this job staged,
        else the one commit ``at`` (default: the head) names; None before
        the first commit."""
        if self._staged and table in self._staged:
            return self._staged[table]
        commit = at or self.head()
        path = commit and os.path.join(commit, table)
        return os.path.realpath(path) if path and os.path.isdir(path) else None

    def _stage(self, table: str, fill) -> None:
        """Fill a new version of ``table`` and stage it in the running job,
        or in a job of its own; a version it supersedes goes at the prune."""
        with self.job():
            version = os.path.join(self.root, "_versions", table, uuid.uuid4().hex)
            os.makedirs(version)
            fill(version)
            self._staged[table] = version

    def _commit(self, versions: dict[str, str]) -> None:
        """Make ``versions`` (table -> version directory) live beside the
        head's other tables by one replace of ``_head``, then prune. A crash
        leaves its temporary links in the commit, which the next one deletes.
        The caller holds ``_lock``."""
        head = self.head()
        n = int(os.path.basename(head)[1:]) + 1 if head else 0
        tables = {**(_links(head) if head else {}), **versions}
        commit = os.path.join(self.root, "_commits", f"c{n}")
        shutil.rmtree(commit, ignore_errors=True)  # left by a crash before its head replace
        os.makedirs(commit)
        for table, version in tables.items():
            os.symlink(os.path.relpath(version, commit), os.path.join(commit, table))
        os.symlink(os.path.relpath(commit, self.root), os.path.join(commit, "._head"))
        os.replace(os.path.join(commit, "._head"), os.path.join(self.root, "_head"))
        for table in tables:  # the fixed links; replacing one changes nothing a reader sees
            os.symlink(os.path.join("_head", table), os.path.join(commit, "." + table))
            os.replace(os.path.join(commit, "." + table), os.path.join(self.root, table))
        self._prune(n)

    def _prune(self, n: int) -> None:
        """Delete the commits before the last RETAINED_VERSIONS + 1 up to
        ``c<n>``, and every version none of those names."""
        keep = set()
        for commit in glob.glob(os.path.join(self.root, "_commits", "c*")):
            if int(os.path.basename(commit)[1:]) < n - RETAINED_VERSIONS:
                shutil.rmtree(commit)
            else:
                keep |= set(_links(commit).values())
        for version in set(glob.glob(os.path.join(self.root, "_versions", "*", "*"))) - keep:
            shutil.rmtree(version)
