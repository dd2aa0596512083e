"""Merge upsert and load undo.

The reference upserts by pulling the full existing-PK list into memory
and running a per-row UPDATE loop (/root/reference/core/database.py:
366-465) — O(n) driver round-trips that cannot survive 100 TB. The
semantics (last-write-wins by primary key, all non-PK columns
overwritten) are kept; the physical plan becomes one ranked window over
``existing ∪ batch``: each side is read once and shuffled once, on the
key.

Canonical within-batch semantics (SURVEY.md §7.3): duplicate PKs inside
one incoming batch keep the LAST row (matching the reference's
sequential-UPDATE outcome), deterministically via an order column.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_SIDE, _RANK, _FIRST = "__side", "__rank", "__first_side"


@dataclass(frozen=True)
class UpsertStats:
    inserted: int
    updated: int


def merge_upsert(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    order_col: str | None = None,
    evolve_schema: bool = False,
    observation: Observation | None = None,
) -> DataFrame:
    """Last-write-wins merge: per key, the last ``incoming`` row by
    ``order_col`` (an arbitrary one without it), else the ``existing`` row.

    Equivalent to ``MERGE INTO ... WHEN MATCHED UPDATE SET * WHEN NOT
    MATCHED INSERT *`` on a lakehouse table, expressed as pure
    DataFrame ops so it works on plain parquet. Rows are tagged with
    their side (table 0, batch 1); ``row_number`` over the key by (side
    desc, ``order_col`` desc) keeps the batch's last line, and
    ``min(side)`` over the key tells an update from an insert. The
    first load merges into an empty ``existing``. ``observation`` fills
    with the ``inserted`` and ``updated`` counts during the merged
    frame's first action (read them with ``upsert_stats``).

    ``evolve_schema=True`` is the lakehouse mergeSchema behavior: a
    column new to the batch is APPENDED to the table schema (existing
    rows read null there), and a column the batch stopped sending is
    kept (upserted rows null there — last-write-wins applies to the
    whole row, so an absent column is an explicit null, not a
    carry-forward). Default stays strict: the batch must cover the
    table's columns, extras are rejected rather than silently dropped.
    """
    order = [order_col] if order_col else []
    extra = [c for c in incoming.columns if c not in existing.columns + order]
    if extra and not evolve_schema:
        raise ValueError(
            f"merge_upsert: batch carries columns {extra} absent from the "
            "table; pass evolve_schema=True to append them (silently "
            "dropping data would be a correctness hazard)"
        )
    batch = incoming if evolve_schema else incoming.select(*existing.columns, *order)
    tagged = existing.withColumn(_SIDE, F.lit(0)).unionByName(
        batch.withColumn(_SIDE, F.lit(1)), allowMissingColumns=True
    )
    w = Window.partitionBy(*keys).orderBy(F.desc(_SIDE), *[F.desc(c) for c in order])
    whole_key = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    merged = tagged.select(
        "*",
        F.row_number().over(w).alias(_RANK),
        F.min(_SIDE).over(whole_key).alias(_FIRST),
    ).filter(F.col(_RANK) == 1)
    if observation is not None:
        from_batch = F.col(_SIDE) == 1
        merged = merged.observe(
            observation,
            F.count_if(from_batch & (F.col(_FIRST) == 1)).alias("inserted"),
            F.count_if(from_batch & (F.col(_FIRST) == 0)).alias("updated"),
        )
    return merged.drop(_SIDE, _RANK, _FIRST, *order)


def upsert_stats(observation: Observation) -> UpsertStats:
    """Inserted/updated counts matching the reference's bookkeeping
    (core/database.py:450-465): updated = batch keys already in the
    table, inserted = the rest, both after within-batch dedupe.

    Reads the ``observation`` a ``merge_upsert`` (or an append, which
    observes ``inserted`` only) filled during its write; runs no Spark
    job. Call it only after that write returned.
    """
    m = observation.get
    return UpsertStats(inserted=m["inserted"], updated=m.get("updated", 0))


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
