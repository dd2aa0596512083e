"""Parquet-backed warehouse: the engine's table store.

Replaces the reference's SQLite data DB (/root/reference/core/
database.py) with partition-friendly parquet directories, one per
table, registered as temp views for Spark SQL. Writes are atomic at
the directory level (write to ``<table>.tmp-<nonce>``, swap) so a
failed job never corrupts the live table — the closest plain-parquet
analog of the reference's transactional upsert.

At 100 TB the same layout holds: fact tables gain a partition column
(e.g. month of the primary timestamp) via ``partition_by``; the
overwrite-merge upsert becomes a partition-scoped rewrite rather than
a whole-table one when keys are time-clustered (or a Delta/Iceberg
MERGE where a lakehouse format is available).
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession

from calaveras_uniteus_etl_spark.schema import TABLE_SCHEMAS

# (applicationId, table path, file listing) -> resolved DataFrame. Only
# misses mutate it, under the lock, so any thread may read it.
_READ_MEMO: dict[tuple[str, str, tuple], DataFrame] = {}
_READ_MEMO_LOCK = threading.Lock()


def _is_table_file(name: str) -> bool:
    return name.endswith(".parquet") or name == "_SUCCESS"


def _listing(root: str) -> tuple[tuple[str, int, int], ...]:
    """Sorted (relative path, size, mtime_ns) of every file under root."""
    while True:
        try:
            out = []
            for d, _, names in os.walk(root):
                for n in names:
                    st = os.stat(os.path.join(d, n))
                    rel = os.path.join(d[len(root) + 1:], n)
                    out.append((rel, st.st_size, st.st_mtime_ns))
            return tuple(sorted(out))
        except FileNotFoundError:  # a swap moved the table mid-walk
            continue


class Warehouse:
    """Table store over ``root``; one parquet directory per table.

    ``read`` resolves each table version once: it walks the table
    directory and memoizes the lazy DataFrame by (applicationId, table
    path, sorted (relative path, size, mtime_ns) of every file under
    it). A hit skips Spark's file listing and schema inference; no rows
    are cached. Every overwrite, append or restore writes part files
    under new names, so the key changes: the next read misses, resolves
    the new files and drops the path's older entry and any dead
    session's entries.
    """

    def __init__(self, spark: SparkSession, root: str, snapshot_retention: int = 0):
        """``snapshot_retention`` > 0 turns every overwrite's displaced
        directory into a retained table version (time travel): the
        atomic swap already produces the old directory for free, so
        keeping the last N versions costs one rename instead of a
        delete — the plain-parquet sketch of a lakehouse table's
        version history. 0 (default) preserves the original
        delete-on-swap behavior."""
        self.spark = spark
        self.root = root
        self.snapshot_retention = snapshot_retention
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(_is_table_file(f) for f in os.listdir(p))

    # column renames shipped after warehouses existed: old name -> new.
    # read() aliases on the fly so pre-rename tables keep working; the
    # next overwrite persists the new name.
    _LEGACY_RENAMES = {
        "assistance_requests": {"housing_status": "housing_current_status"},
    }

    def read(self, table: str) -> DataFrame:
        path = os.path.abspath(self.path(table))
        files = _listing(path)
        if not any(os.sep not in f and _is_table_file(f) for f, _, _ in files):
            if table in TABLE_SCHEMAS:
                return self.spark.createDataFrame([], TABLE_SCHEMAS[table])
            raise FileNotFoundError(f"table {table!r} not found in warehouse")
        app_id = self.spark.sparkContext.applicationId
        key = (app_id, path, files)
        hit = _READ_MEMO.get(key)
        if hit is not None:
            return hit
        df = self.spark.read.parquet(path)
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
        """Write with atomic swap for overwrites.

        Overwriting a table whose own scan feeds the new plan (the
        merge-upsert shape) would otherwise read-while-truncate; the
        tmp-dir swap also removes that hazard.
        """
        target = self.path(table)
        if mode == "append" and self.exists(table):
            writer = df.write.mode("append")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(target)
            return
        tmp = f"{target}.tmp-{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        old = f"{target}.old-{uuid.uuid4().hex[:8]}"
        if os.path.exists(target):
            os.rename(target, old)
        os.rename(tmp, target)
        if os.path.exists(old):
            if self.snapshot_retention > 0:
                os.makedirs(self._snap_root(table), exist_ok=True)
                seq = (max(self.list_snapshots(table), default=-1)) + 1
                os.rename(old, self._snap_path(table, seq))
                self._prune_snapshots(table)
            else:
                shutil.rmtree(old, ignore_errors=True)

    # ------------------------------------------------------------------
    # Table versions (time travel). Versions are integers in write
    # order; version v is the table state displaced by the (v+1)-th
    # retained overwrite. Monotonic across pruning: sequence numbers
    # are never reused, so "version 7" always means the same bytes.
    # ------------------------------------------------------------------

    def _snap_root(self, table: str) -> str:
        return os.path.join(self.root, "_snapshots", table)

    def _snap_path(self, table: str, seq: int) -> str:
        return os.path.join(self._snap_root(table), f"v{seq:08d}")

    def list_snapshots(self, table: str) -> list[int]:
        """Retained version numbers, oldest first."""
        root = self._snap_root(table)
        if not os.path.isdir(root):
            return []
        return sorted(
            int(d[1:]) for d in os.listdir(root)
            if d.startswith("v") and d[1:].isdigit()
        )

    def _prune_snapshots(self, table: str) -> None:
        snaps = self.list_snapshots(table)
        for seq in snaps[: max(0, len(snaps) - self.snapshot_retention)]:
            shutil.rmtree(self._snap_path(table, seq), ignore_errors=True)

    def read_version(self, table: str, version: int) -> DataFrame:
        """Read a retained historical version of a table."""
        p = self._snap_path(table, version)
        if not os.path.isdir(p):
            raise FileNotFoundError(
                f"table {table!r} has no retained version {version}; "
                f"available: {self.list_snapshots(table)}"
            )
        return self.spark.read.parquet(p)

    def restore(self, table: str, version: int) -> None:
        """Make a historical version current (the pre-restore state is
        itself retained as a new version, so a restore is undoable)."""
        self.write(table, self.read_version(table, version))
