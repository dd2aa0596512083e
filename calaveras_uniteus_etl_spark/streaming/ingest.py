"""File-source streaming ingest (exactly-once upgrade of batch ETL).

The reference tracks processed files by ``(file_name, md5)`` rows in
``etl_metadata`` (/root/reference/core/etl_service.py:213-229,
364-370). Structured Streaming's file source does the same job natively
and transactionally: the checkpoint's file-source log records every
consumed file, so a crashed job resumes without double-loading —
exactly-once at the file level without any bookkeeping table.

``Trigger.AvailableNow`` drains everything currently in the input
directory, processes it in (possibly several) micro-batches, then
stops — the scheduler-friendly shape: the reference's polling
"automated sync" becomes a cron that just re-runs the same call with
the same checkpoint.

Writes go through ``foreachBatch`` so each micro-batch can run the
window-based merge upsert into the warehouse table — the same C2
semantics as the batch path (operators/upsert.py), through the batch
path's own cleaning and declared projection, so PHI is hashed and rows
without a required key are dropped here too. At scale: micro-batch
size is governed by ``maxFilesPerTrigger``; the merge's shuffle is on
the primary key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StringType, StructField, StructType

from calaveras_uniteus_etl_spark.config import PRIMARY_KEYS, PHIConfig
from calaveras_uniteus_etl_spark.operators.cleaning import clean, project_declared
from calaveras_uniteus_etl_spark.operators.upsert import merge_upsert
from calaveras_uniteus_etl_spark.schema import TABLE_SCHEMAS
from calaveras_uniteus_etl_spark.sources.delimited import null_sentinels
from calaveras_uniteus_etl_spark.warehouse import Warehouse


def _all_string_schema(table: str) -> StructType:
    """Ingest schema: every declared column as string (SQLite-affinity
    parity — typed casting happens inside the micro-batch)."""
    return StructType(
        [StructField(f.name, StringType()) for f in TABLE_SCHEMAS[table].fields]
    )


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    warehouse: Warehouse,
    table: str,
    checkpoint_dir: str,
    sep: str = "|",
    max_files_per_trigger: int | None = None,
    phi: PHIConfig = PHIConfig(),
) -> StreamingQuery:
    """Drain ``input_dir`` into warehouse ``table`` exactly once.

    Returns the started query; call ``awaitTermination()`` — with the
    AvailableNow trigger it stops by itself when the directory is
    drained. Re-running with the same checkpoint skips every file the
    source log already recorded. ``phi`` should be the batch ingest's
    ``ETLConfig.phi``, so both paths hash keys with the same salt.
    """
    reader = (
        spark.readStream.format("csv")
        .schema(_all_string_schema(table))
        .option("header", True)
        .option("sep", sep)
        .option("quote", '"')
        .option("escape", '"')
        .option("nullValue", "")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(input_dir)

    keys = PRIMARY_KEYS.get(table, [])

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        df = batch_df.select(*[null_sentinels(c) for c in batch_df.columns])
        cleaned, _ = clean(df)
        typed = project_declared(cleaned, table, phi)
        if keys:
            # read() of a missing table is the empty declared-schema frame
            merged = merge_upsert(warehouse.read(table), typed, keys)
            warehouse.write(table, merged, mode="overwrite")
        else:
            warehouse.write(table, typed, mode="append")

    return (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
