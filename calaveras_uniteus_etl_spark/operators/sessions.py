"""Batch sessionization: gap-split session numbering as a window op.

Per-entity event streams split into sessions wherever the inter-event
gap exceeds a threshold. Expressed as the classic two-window
composition — LAG flags session starts, a running SUM over the same
(entity, time, tiebreak) order numbers them — so the whole assignment
costs ONE hash-partition shuffle on the entity key (no global sort),
and any per-session aggregate that follows reuses that partitioning.

The tiebreak column makes the ordering total when timestamps collide,
which is what keeps session ids deterministic across engines and runs
(SURVEY.md §7.2 determinism discipline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def assign_sessions(
    df: DataFrame,
    entity_col: str,
    time_col: str,
    tiebreak_col: str,
    gap: int,
    out_col: str = "sess_idx",
) -> DataFrame:
    """Number each row's session within its entity (1-based).

    ``time_col`` must be a numeric (e.g. epoch-microsecond) column;
    a new session starts where ``time - lag(time) > gap`` (or at the
    first event). Adds ``out_col``; one shuffle on ``entity_col``.
    """
    w = Window.partitionBy(entity_col).orderBy(time_col, tiebreak_col)
    prev = F.lag(time_col).over(w)
    is_new = F.when(prev.isNull() | (F.col(time_col) - prev > gap), 1).otherwise(0)
    return df.withColumn(
        out_col,
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def session_rollup(
    df_with_sessions: DataFrame,
    entity_col: str,
    time_col: str,
    sess_col: str = "sess_idx",
) -> DataFrame:
    """Per-session event count and duration (same partitioning as
    :func:`assign_sessions` — no extra shuffle)."""
    return df_with_sessions.groupBy(entity_col, sess_col).agg(
        F.count("*").alias("n_events"),
        (F.max(time_col) - F.min(time_col)).alias("dur_us"),
    )
