"""Ingest orchestration: files → cleaned, typed, merged warehouse tables.

The Spark re-expression of the reference's ETL job lifecycle
(/root/reference/core/etl_service.py:985-1392, traced in SURVEY.md
§3.1). Differences are architectural, not semantic:

- like the reference, a job loads its files from a pool of up to 4
  driver threads, one table per thread: Spark analyses every DataFrame
  step eagerly on the driver, so a file's plan costs real driver time,
  and files of different tables overlap it. Files of one table load in
  (file date, file name) order, so the newest delivery wins
- the reference's per-row UPDATE upsert becomes one ranked-window
  merge (operators/upsert.py)
- job/metadata/data-quality bookkeeping are ordinary appended tables,
  but like the reference's row operations they stay on the driver: the
  skip check scans ``etl_metadata`` with pyarrow and each append writes
  one small parquet file with pyarrow, so neither runs a Spark job. The
  skip check, the merges and the rows run under one warehouse job's
  lock and go live in its one commit (``Warehouse.job``), so a job that
  waited for another skips the files that one loaded

Per-file pipeline: read (A1) → schema-validate (§1.4, critical → FAIL
the file) → clean B1-B4 → one projection onto the declared row (cast,
PHI hash, audit stamp; rows without a primary key dropped) → merge
by primary key, the first load included (C2). Only the declared data
tables load, each with its primary key; a file naming a bookkeeping
table such as ``etl_metadata`` fails validation, so no delivery writes
the load record. The header comes from the driver-side encoding probe,
and the cleaning report and the inserted/updated counts are
observations that fill during the write, so the write is a file's only
Spark work. Per job, after every file: schema-error, data-quality and
metadata rows (C5/C6), one driver-side append each (``Warehouse.write_rows``),
then one commit. ``etl_metadata`` records the loaded and failed files,
not the skipped ones, so an ingest that skips every file writes nothing:
no Spark job and no commit.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow.dataset as ds
from pyspark.sql import Observation, SparkSession
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from calaveras_uniteus_etl_spark.config import ETLConfig
from calaveras_uniteus_etl_spark.operators.cleaning import clean, project_declared
from calaveras_uniteus_etl_spark.operators.upsert import merge_upsert, upsert_stats
from calaveras_uniteus_etl_spark.schema import PRIMARY_KEYS, TABLE_SCHEMAS
from calaveras_uniteus_etl_spark.sources.delimited import read_delimited
from calaveras_uniteus_etl_spark.sources.discovery import (
    FileProcessingTask,
    TaskStatus,
    discover_files,
    latest_only,
)
from calaveras_uniteus_etl_spark.sources.schema_validator import validate_schema
from calaveras_uniteus_etl_spark.warehouse import Warehouse

# driver threads loading one table each, the reference ETL's pool size
INGEST_WORKERS = 4

# the etl_metadata columns the skip check reads
_SKIP_COLUMNS = StructType(
    [f for f in TABLE_SCHEMAS["etl_metadata"] if f.name in ("file_name", "file_hash", "status")]
)


@dataclass
class IngestReport:
    job_id: str
    tasks: list[FileProcessingTask] = field(default_factory=list)

    @property
    def completed(self) -> list[FileProcessingTask]:
        return [t for t in self.tasks if t.status == TaskStatus.COMPLETED]

    @property
    def failed(self) -> list[FileProcessingTask]:
        return [t for t in self.tasks if t.status == TaskStatus.FAILED]

    @property
    def skipped(self) -> list[FileProcessingTask]:
        return [t for t in self.tasks if t.status == TaskStatus.SKIPPED]


def _processed_subset(wh: Warehouse, candidates: list[tuple[str, str]]) -> set[tuple[str, str]]:
    """Which of this batch's (file_name, md5) pairs are already loaded
    (reference incremental-skip identity, etl_service.py:213-229).

    A pyarrow scan of the live etl_metadata version on the driver, no
    Spark job. The filter on status and on this batch's file names runs
    in the scan, so only those rows reach the driver — bounded by batch
    size, not by the table's history.
    """
    if not candidates:
        return set()
    names = list({name for name, _ in candidates})
    rows = wh.read_rows(
        "etl_metadata",
        _SKIP_COLUMNS,
        (ds.field("status") == "completed") & ds.field("file_name").isin(names),
    )
    loaded = zip(rows["file_name"].to_pylist(), rows["file_hash"].to_pylist())
    return set(loaded) & set(candidates)


def ingest_file(
    spark: SparkSession,
    wh: Warehouse,
    task: FileProcessingTask,
    config: ETLConfig,
    loaded_at: datetime | None = None,
) -> FileProcessingTask:
    """Run one file through the full pipeline; mutates task status and
    leaves its schema issues or cleaning report in ``task.details``."""
    table = task.table_name
    raw = read_delimited(spark, task.path, with_line_number=True)

    result = validate_schema(table, [c for c in raw.columns if c != "_line_no"])
    if not result.ok:
        task.status = TaskStatus.FAILED
        task.error = "; ".join(i.suggestion for i in result.critical)
        task.details["schema_issues"] = result.issues
        return task

    cleaned, quality = clean(raw)
    declared = project_declared(
        cleaned,
        table,
        config.phi,
        loaded_at or datetime.now(tz=timezone.utc).replace(tzinfo=None),
    )

    counts = Observation()
    # _line_no orders within-batch duplicates (keep-last, SURVEY §7.3).
    # Safe though the plan reads the table it replaces: the warehouse
    # writes a new version and never touches the one being read.
    out = merge_upsert(
        wh.read(table), declared, PRIMARY_KEYS[table], order_col="_line_no",
        observation=counts,
    )
    wh.write(table, out)
    # the write filled both observations; reading them runs no job
    stats = upsert_stats(counts)
    task.rows_inserted, task.rows_updated = stats.inserted, stats.updated
    task.details["quality"] = quality
    task.status = TaskStatus.COMPLETED
    return task


def _load_table(spark, wh, tasks, config, loaded_at) -> None:
    """Load one table's files in order; a failure fails only its file."""
    for task in tasks:
        try:
            # through the module global, so a wrapped ingest_file sees every file
            ingest_file(spark, wh, task, config, loaded_at=loaded_at)
        except Exception as exc:  # file-scoped failure, job continues
            task.status = TaskStatus.FAILED
            task.error = str(exc)[:500]


def _append_rows(wh, table: str, rows: list) -> None:
    if rows:
        wh.write_rows(table, rows, TABLE_SCHEMAS[table], mode="append")


def _append_quality_issues(wh, report: IngestReport) -> None:
    """C6: persist each loaded file's cleaning report as
    data_quality_issues rows (reference core/database.py:540-565 logs
    dropped-row and null-rate issues per load; summarized by
    quality_summary())."""
    now = datetime.now(tz=timezone.utc).replace(tzinfo=None)
    rows = []
    for task in report.completed:
        quality = task.details["quality"]
        if quality.dropped_all_null_rows:
            rows.append(
                (task.table_name, task.file_name, "all_null_row", None,
                 quality.dropped_all_null_rows,
                 f"dropped {quality.dropped_all_null_rows} fully-null rows", now)
            )
        rows += [
            (task.table_name, task.file_name, "null_values", col, n,
             f"{n} null values in {col}", now)
            for col, n in sorted(quality.null_counts.items())
            if n
        ]
    _append_rows(wh, "data_quality_issues", rows)


def quality_summary(wh) -> "DataFrame":
    """The /api/data-quality/summary rollup: one row per grain/key.

    grain='total' (key NULL), grain='issue_type', grain='table_name' —
    the reference returns the same three aggregates as a dict
    (core/database.py:567-594). One scan, one shuffle on the tiny
    (grain, key) keyspace via grouping sets.
    """
    from pyspark.sql import functions as _F

    issues = wh.read("data_quality_issues")
    return (
        issues.select("issue_type", "table_name", "issue_count")
        .groupBy("issue_type", "table_name")
        .agg(_F.sum("issue_count").alias("n"))
        .select(
            _F.explode(
                _F.array(
                    _F.struct(_F.lit("total").alias("grain"), _F.lit(None).cast("string").alias("key"), _F.col("n")),
                    _F.struct(_F.lit("issue_type").alias("grain"), _F.col("issue_type").alias("key"), _F.col("n")),
                    _F.struct(_F.lit("table_name").alias("grain"), _F.col("table_name").alias("key"), _F.col("n")),
                )
            ).alias("g")
        )
        .select("g.grain", "g.key", "g.n")
        .groupBy("grain", "key")
        .agg(_F.sum("n").cast("bigint").alias("n_issues"))
    )


def _append_schema_errors(wh, report: IngestReport) -> None:
    now = datetime.now(tz=timezone.utc).replace(tzinfo=None)
    rows = [
        (t.file_name, i.table_name, i.error_type, i.column_name, i.severity,
         i.suggestion, now)
        for t in report.tasks
        for i in t.details.get("schema_issues", ())
    ]
    _append_rows(wh, "schema_errors", rows)


def _append_metadata(wh, report: IngestReport, started_at, completed_at) -> None:
    rows = [
        (
            t.file_name,
            t.table_name,
            t.file_date,
            t.file_hash,
            t.rows_inserted + t.rows_updated,
            t.rows_inserted,
            t.rows_updated,
            t.status.value,
            t.error,
            "manual",
            started_at,
            completed_at,
        )
        for t in report.tasks
        if t.status != TaskStatus.SKIPPED
    ]
    _append_rows(wh, "etl_metadata", rows)


def ingest(
    spark: SparkSession,
    config: ETLConfig,
    selected_files: set[str] | None = None,
    mappings: dict[str, str] | None = None,
) -> IngestReport:
    """Discover and load every pending input file; returns the report.

    job_id format mirrors the reference (etl_YYYYMMDD_HHMMSS_ffffff,
    etl_service.py:985-1038).
    """
    started_at = datetime.now(tz=timezone.utc).replace(tzinfo=None)
    job_id = "etl_" + started_at.strftime("%Y%m%d_%H%M%S_%f")
    wh = Warehouse(spark, config.warehouse_dir)

    tasks = discover_files(
        config.input_dir,
        selected_files=selected_files,
        mappings=mappings,
    )
    # one commit: the merges and the three row sets go live together, so
    # a crash before it reloads the files on the next run and logs them once
    with wh.job():
        if config.skip_processed:
            processed = _processed_subset(wh, [(t.file_name, t.file_hash) for t in tasks])
            for t in tasks:
                if (t.file_name, t.file_hash) in processed:
                    t.status = TaskStatus.SKIPPED
        if config.latest_file_only:
            tasks = latest_only(tasks)
        report = IngestReport(job_id=job_id, tasks=tasks)
        by_table: dict[str, list[FileProcessingTask]] = {}
        for task in sorted(tasks, key=lambda t: (t.file_date, t.file_name)):
            if task.status != TaskStatus.SKIPPED:
                by_table.setdefault(task.table_name, []).append(task)
        if by_table:
            with ThreadPoolExecutor(min(INGEST_WORKERS, len(by_table))) as pool:
                # each worker starts from this thread's job group, description and tags
                futures = [
                    pool.submit(
                        inheritable_thread_target(spark)(_load_table),
                        spark, wh, table_tasks, config, started_at,
                    )
                    for table_tasks in by_table.values()
                ]
                for f in futures:
                    f.result()
        completed_at = datetime.now(tz=timezone.utc).replace(tzinfo=None)
        _append_schema_errors(wh, report)
        _append_quality_issues(wh, report)
        _append_metadata(wh, report, started_at, completed_at)
    return report
