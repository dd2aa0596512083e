"""Join-based upsert and load undo.

The reference upserts by pulling the full existing-PK list into memory
and running a per-row UPDATE loop (/root/reference/core/database.py:
366-465) — O(n) driver round-trips that cannot survive 100 TB. The
semantics (last-write-wins by primary key, all non-PK columns
overwritten) are kept; the physical plan becomes a distributed
anti-join + union, which Catalyst executes as one shuffle (or broadcast
when the batch is small — the common case for incremental loads).

Canonical within-batch semantics (SURVEY.md §7.3): duplicate PKs inside
one incoming batch keep the LAST row (matching the reference's
sequential-UPDATE outcome), deterministically via an order column.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@dataclass(frozen=True)
class UpsertStats:
    inserted: int
    updated: int


def dedupe_keep_last(
    incoming: DataFrame, keys: list[str], order_col: str | None = None
) -> DataFrame:
    """Within-batch dedupe, keep-last per PK.

    ``order_col`` gives the intra-batch ordering (e.g. a line number
    from the source file). Without one, ties are broken arbitrarily but
    deterministically is impossible — callers that care pass the column.
    """
    if order_col is None:
        return incoming.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return (
        incoming.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_upsert(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    order_col: str | None = None,
    evolve_schema: bool = False,
) -> DataFrame:
    """Last-write-wins merge: rows of ``existing`` not matched by key,
    plus all (deduped) ``incoming`` rows.

    Equivalent to ``MERGE INTO ... WHEN MATCHED UPDATE SET * WHEN NOT
    MATCHED INSERT *`` on a lakehouse table, expressed as pure
    DataFrame ops so it works on plain parquet.

    ``evolve_schema=True`` is the lakehouse mergeSchema behavior: a
    column new to the batch is APPENDED to the table schema (existing
    rows read null there), and a column the batch stopped sending is
    kept (upserted rows null there — last-write-wins applies to the
    whole row, so an absent column is an explicit null, not a
    carry-forward). Default stays strict: the batch must cover the
    table's columns, extras are rejected rather than silently dropped.
    """
    batch = dedupe_keep_last(incoming, keys, order_col)
    if order_col is not None:
        # the intra-batch ordering column is merge bookkeeping, never
        # part of the table schema
        batch = batch.drop(order_col)
    untouched = existing.join(batch, on=keys, how="left_anti")
    if evolve_schema:
        return untouched.unionByName(batch, allowMissingColumns=True)
    extra = [c for c in batch.columns if c not in existing.columns]
    if extra:
        raise ValueError(
            f"merge_upsert: batch carries columns {extra} absent from the "
            "table; pass evolve_schema=True to append them (silently "
            "dropping data would be a correctness hazard)"
        )
    return untouched.unionByName(batch.select(*existing.columns))


def upsert_stats(existing: DataFrame, incoming: DataFrame, keys: list[str]) -> UpsertStats:
    """Inserted/updated counts matching the reference's bookkeeping
    (core/database.py:450-465): updated = incoming ∩ existing by key,
    inserted = the rest (counted after within-batch dedupe)."""
    batch = incoming.dropDuplicates(keys)
    updated = batch.join(existing, on=keys, how="left_semi").count()
    inserted = batch.count() - updated
    return UpsertStats(inserted=inserted, updated=updated)


def undo_load(
    table_df: DataFrame,
    loaded_at_col: str,
    window_start,
    window_end,
) -> DataFrame:
    """ETL job undo (reference: core/app.py:1403-1517): drop rows whose
    audit timestamp falls inside the job's processing window.

    NULL audit timestamps are preserved — a row the ETL never stamped
    cannot belong to the job being undone (a bare NOT-BETWEEN filter
    would silently delete them, since NULL comparisons propagate).
    """
    c = F.col(loaded_at_col)
    return table_df.filter(
        c.isNull() | (c < F.lit(window_start)) | (c > F.lit(window_end))
    )
