"""Ingest orchestration: files → cleaned, typed, merged warehouse tables.

The Spark re-expression of the reference's ETL job lifecycle
(/root/reference/core/etl_service.py:985-1392, traced in SURVEY.md
§3.1). Differences are architectural, not semantic:

- the reference fans files into a 4-thread pool; here each file's
  pipeline is a lazy DataFrame chain and Spark tasks supply all
  parallelism (driver loop over files stays trivially cheap — it only
  *declares* work)
- the reference's per-row UPDATE upsert becomes one ranked-window
  merge (operators/upsert.py)
- job/metadata/data-quality bookkeeping are ordinary appended tables

Per-file pipeline: read (A1) → schema-validate (§1.4, critical → FAIL
the file) → clean B1-B5 → cast to declared types → PHI hash → merge by
primary key, the first load included (C2), or append a keyless table
(C1). The cleaning report and the inserted/updated counts are
observations that fill during that write, so a file runs no Spark job
beyond its header read and the write. Per job: schema-error,
data-quality and metadata rows (C5/C6), one append each.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from calaveras_uniteus_etl_spark.config import ETLConfig, PRIMARY_KEYS, REQUIRED_FIELDS
from calaveras_uniteus_etl_spark.operators.cleaning import (
    clean,
    cast_columns,
    stamp_audit_columns,
)
from calaveras_uniteus_etl_spark.operators.phi import hash_phi_fields
from calaveras_uniteus_etl_spark.operators.upsert import merge_upsert, upsert_stats
from calaveras_uniteus_etl_spark.schema import TABLE_SCHEMAS, cast_map
from calaveras_uniteus_etl_spark.sources.delimited import read_delimited
from calaveras_uniteus_etl_spark.sources.discovery import (
    FileProcessingTask,
    TaskStatus,
    discover_files,
    latest_only,
)
from calaveras_uniteus_etl_spark.sources.schema_validator import validate_schema
from calaveras_uniteus_etl_spark.warehouse import Warehouse


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


def _processed_subset(
    spark: SparkSession, wh: Warehouse, candidates: list[tuple[str, str]]
) -> set[tuple[str, str]]:
    """Which of this batch's (file_name, md5) pairs are already loaded
    (reference incremental-skip identity, etl_service.py:213-229).

    Semi-join shape on purpose: the candidate list (this batch's file
    listing) is the small side, so only its matches ever reach the
    driver — bounded by batch size. Collecting etl_metadata itself
    would grow with total history and eventually not fit.
    """
    if not candidates or not wh.exists("etl_metadata"):
        return set()
    cand = spark.createDataFrame(candidates, "file_name string, file_hash string")
    matched = (
        wh.read("etl_metadata")
        .filter(F.col("status") == "completed")
        .select("file_name", "file_hash")
        .join(F.broadcast(cand), ["file_name", "file_hash"], "left_semi")
        .distinct()
        .collect()
    )
    return {(r.file_name, r.file_hash) for r in matched}


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
    # required-field enforcement (rows lacking the PK are quality issues)
    required = REQUIRED_FIELDS.get(table, PRIMARY_KEYS.get(table, []))
    for col in required:
        if col in cleaned.columns:
            cleaned = cleaned.filter(F.col(col).isNotNull())

    typed = cast_columns(cleaned, cast_map(table))
    hashed = hash_phi_fields(typed, table, config.phi)
    # align to declared schema: missing declared cols become NULL
    declared = [
        f
        for f in TABLE_SCHEMAS[table].fields
        if f.name not in ("etl_loaded_at", "etl_updated_at")
    ]
    aligned = hashed.select(
        *[
            F.col(f.name).cast(f.dataType)
            if f.name in hashed.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in declared
        ],
        F.col("_line_no"),
    )
    stamped = stamp_audit_columns(
        aligned, loaded_at or datetime.now(tz=timezone.utc).replace(tzinfo=None)
    )

    keys = PRIMARY_KEYS.get(table)
    counts = Observation()
    if keys:
        # _line_no orders within-batch duplicates (keep-last, SURVEY §7.3).
        # Safe though the plan reads the table it replaces: the warehouse
        # writes to a tmp dir and swaps only after success.
        out = merge_upsert(
            wh.read(table), stamped, keys, order_col="_line_no", observation=counts
        )
    else:
        out = stamped.drop("_line_no").observe(counts, F.count(F.lit(1)).alias("inserted"))
    wh.write(table, out, mode="overwrite" if keys else "append")
    # the write filled both observations; reading them runs no job
    stats = upsert_stats(counts)
    task.rows_inserted, task.rows_updated = stats.inserted, stats.updated
    task.details["quality"] = quality
    task.status = TaskStatus.COMPLETED
    return task


def _append_rows(spark, wh, table: str, rows: list) -> None:
    if rows:
        wh.write(table, spark.createDataFrame(rows, TABLE_SCHEMAS[table]), mode="append")


def _append_quality_issues(spark, wh, report: IngestReport) -> None:
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
    _append_rows(spark, wh, "data_quality_issues", rows)


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


def _append_schema_errors(spark, wh, report: IngestReport) -> None:
    now = datetime.now(tz=timezone.utc).replace(tzinfo=None)
    rows = [
        (t.file_name, i.table_name, i.error_type, i.column_name, i.severity,
         i.suggestion, now)
        for t in report.tasks
        for i in t.details.get("schema_issues", ())
    ]
    _append_rows(spark, wh, "schema_errors", rows)


def _append_metadata(spark, wh, report: IngestReport, started_at, completed_at) -> None:
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
    ]
    _append_rows(spark, wh, "etl_metadata", rows)


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
    if config.skip_processed:
        processed = _processed_subset(
            spark, wh, [(t.file_name, t.file_hash) for t in tasks]
        )
        for t in tasks:
            if (t.file_name, t.file_hash) in processed:
                t.status = TaskStatus.SKIPPED
    if config.latest_file_only:
        tasks = latest_only(tasks)

    report = IngestReport(job_id=job_id, tasks=tasks)
    for task in tasks:
        if task.status == TaskStatus.SKIPPED:
            continue
        try:
            ingest_file(spark, wh, task, config, loaded_at=started_at)
        except Exception as exc:  # file-scoped failure, job continues
            task.status = TaskStatus.FAILED
            task.error = str(exc)[:500]
    completed_at = datetime.now(tz=timezone.utc).replace(tzinfo=None)
    # metadata last: it marks the files processed, so a crash before it
    # reloads them on the next run
    _append_schema_errors(spark, wh, report)
    _append_quality_issues(spark, wh, report)
    _append_metadata(spark, wh, report, started_at, completed_at)
    return report
