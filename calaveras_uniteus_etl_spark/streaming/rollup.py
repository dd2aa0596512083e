"""Incrementally-maintained aggregate table via foreachBatch.

The streaming twin of the c8 merge proof: each micro-batch's partial
aggregate (count + exact-decimal sum per key) merges into a persistent
rollup table, and because counts and decimal sums are associative the
maintained table equals a full batch recompute after any sequence of
micro-batches. This is the pattern for serving-layer tables at 100 TB:
the stream only ever shuffles its own micro-batch on the rollup key,
and the merge rewrites a key-grain table that stays aggregate-sized.

Restart safety: foreachBatch is at-least-once — a crash after the
warehouse commit succeeds but before the checkpoint commit log records
the batch replays that batch_id on restart, and a naive merge would
double-count it. The rollup therefore carries the last applied
batch_id in-band (``_applied_batch``, a constant column written in
the same atomic commit as the data it covers), and ``sink`` skips any
batch whose id is <= the recorded one. batch_ids are assigned
monotonically by the checkpoint, so skip-if-seen makes the merge
idempotent across crash-replay and the maintained table exactly-once.
The marker also carries the checkpoint's run id (``_applied_run``):
batch_ids restart at 0 when a checkpoint is recreated, so the skip
only applies within the same run — a fresh checkpoint merges instead
of silently dropping data (see ``checkpoint_run_id``).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from calaveras_uniteus_etl_spark.warehouse import Warehouse

ROLLUP_TABLE = "events_rollup"
APPLIED_BATCH_COL = "_applied_batch"
RUN_ID_COL = "_applied_run"
_RUN_ID_FILE = "_rollup_run_id"


def checkpoint_run_id(checkpoint_dir: str) -> str:
    """Stable id for one checkpoint lineage (Delta's txnAppId pattern).

    batch_ids restart at 0 whenever the checkpoint directory is
    recreated, so skip-if-seen on batch_id alone would silently drop
    every batch of a fresh run against an existing rollup. The run id
    lives IN the checkpoint dir: same dir -> same id (crash-replay is
    still deduped); new/recreated dir -> new id (nothing is skipped).
    NOTE: a fresh availableNow checkpoint re-reads the ENTIRE input
    directory, so every historical batch re-merges once under the new
    run id — drop the rollup table together with a lost checkpoint so
    the run rebuilds it. The guard's job is to make the failure
    direction loud duplicates instead of silent loss.
    """
    import os
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    p = os.path.join(checkpoint_dir, _RUN_ID_FILE)

    def _read() -> str:
        try:
            with open(p) as f:
                return f.read().strip()
        except FileNotFoundError:
            return ""

    rid = _read()
    if not rid:  # missing OR empty (crash mid-create): mint atomically
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            f.write(uuid.uuid4().hex)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, p)
        rid = _read()
    return rid


def _partials(batch: DataFrame, key: str, value: str) -> DataFrame:
    return batch.groupBy(key).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col(value).cast("decimal(18,6)"))
        .cast("decimal(38,6)")
        .alias("sum_value"),
    )


def merge_rollup(existing: DataFrame, partial: DataFrame, key: str) -> DataFrame:
    """Merge a partial aggregate into the rollup (associative math only)."""
    e = existing.select(
        key, "n_events", F.col("sum_value").cast("decimal(38,6)").alias("sum_value")
    )
    return (
        e.unionByName(partial)
        .groupBy(key)
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
        )
    )


def apply_batch(
    warehouse: Warehouse,
    batch: DataFrame,
    batch_id: int,
    key: str = "event_type",
    value: str = "value",
    run_id: str | None = None,
) -> bool:
    """Merge one micro-batch into the rollup, idempotently per batch_id.

    Returns False (no-op) when ``batch_id`` was already applied BY THE
    SAME RUN — the crash-replay case where the previous attempt's
    warehouse commit landed but its checkpoint commit did not. Both the
    batch_id and the run id travel in the same table version as the
    merged data, so the markers can never disagree with the table
    contents. A batch from a DIFFERENT run id (fresh/recreated
    checkpoint) is never skipped: batch_ids restart at 0 there, and
    skipping on the stale marker would silently drop data. The same
    applies across the version boundary in either direction — a
    run-id-aware caller on a legacy table (no run marker), or a legacy
    caller (run_id=None) on a run-id-written table (warns) — merge,
    never skip, on any marker mismatch. Only a legacy caller on a
    legacy table still dedupes on batch_id alone.
    """
    partial = _partials(batch, key, value)
    if warehouse.exists(ROLLUP_TABLE):
        existing = warehouse.read(ROLLUP_TABLE)
        if APPLIED_BATCH_COL in existing.columns:
            row = existing.agg(
                F.max(APPLIED_BATCH_COL).alias("b"),
                F.max(RUN_ID_COL).alias("r")
                if RUN_ID_COL in existing.columns
                else F.lit(None).alias("r"),
            ).collect()[0]
            # Markers only dedupe when both sides speak the same run
            # dialect: a legacy caller (run_id=None) against a table
            # WITH a run marker, or a run-id-aware caller against a
            # legacy table, is a mixed-version writer set — MERGE
            # (at-least-once), never skip, because the batch_id
            # sequence cannot be trusted across the version boundary.
            if run_id is None and row["r"] is not None:
                warnings.warn(
                    "rollup table carries a run id but caller passed "
                    "run_id=None (mixed-version writers): merging "
                    "without batch dedup",
                    stacklevel=2,
                )
                same_run = False
            else:
                same_run = (run_id is None) or (row["r"] == run_id)
            if same_run and row["b"] is not None and batch_id <= row["b"]:
                return False  # crash-replay of an already-applied batch
        merged = merge_rollup(existing, partial, key)
    else:
        merged = partial.select(
            key,
            F.col("n_events").cast("bigint").alias("n_events"),
            "sum_value",
        )
    warehouse.write(
        ROLLUP_TABLE,
        merged.withColumn(
            APPLIED_BATCH_COL, F.lit(batch_id).cast("bigint")
        ).withColumn(RUN_ID_COL, F.lit(run_id).cast("string")),
    )
    return True


def stream_rollup(
    spark: SparkSession,
    input_dir: str,
    warehouse: Warehouse,
    checkpoint_dir: str,
    schema,
    key: str = "event_type",
    value: str = "value",
) -> StreamingQuery:
    """Drain ``input_dir`` maintaining the rollup table exactly once."""
    run_id = checkpoint_run_id(checkpoint_dir)

    def sink(batch: DataFrame, batch_id: int) -> None:
        apply_batch(warehouse, batch, batch_id, key, value, run_id=run_id)

    stream = spark.readStream.schema(schema).parquet(input_dir)
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
