"""Ingest cleaning transforms (SURVEY.md §2.B, reference
core/etl_service.py:659-762).

All row-level, all expressed as built-in column expressions (JVM-side,
codegen-friendly). The dropped-row and null counts the reference logs
per file come from one ``Observation`` that fills while the cleaned
frame's first action runs, so cleaning runs no Spark action of its own.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Mojibake repairs (core/etl_service.py:704-718): UTF-8 read as cp1252.
MOJIBAKE_MAP = (
    ("â€™", "'"),
    ("â€œ", '"'),
    ("â€\x9d", '"'),
    ("â€", '"'),
)


# observed B1 count; the other observed metrics are the null counts of
# the data columns, whose names never start with "_"
_ALL_NULL = "_all_null_rows"


@dataclass(frozen=True)
class CleaningReport:
    """Counts mirroring the reference's data_quality_issues rows. Read
    them only after the cleaned frame's first action ran: until then
    ``Observation.get`` blocks."""

    observation: Observation

    @property
    def dropped_all_null_rows(self) -> int:
        return self.observation.get[_ALL_NULL]

    @property
    def null_counts(self) -> dict[str, int]:
        """Nulls per data column among the rows B1 kept."""
        return {c: n for c, n in self.observation.get.items() if c != _ALL_NULL}


def _string_cols(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]


def _data_cols(df: DataFrame) -> list[str]:
    # not the "_"-prefixed columns the pipeline adds (``_line_no``)
    return [c for c in df.columns if not c.startswith("_")]


# --- B1: drop rows where every data column is null --------------------------


def _all_null(df: DataFrame) -> Column:
    return reduce(operator.and_, [F.col(c).isNull() for c in _data_cols(df)])


def drop_all_null_rows(df: DataFrame) -> DataFrame:
    return df.filter(~_all_null(df))


# --- B3/B4: whitespace trim, mojibake repair, literal-sentinel → NULL ------


def repair_mojibake_expr(c: Column) -> Column:
    out = c
    for bad, good in MOJIBAKE_MAP:
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def normalize_sentinels_expr(c: Column) -> Column:
    """Empty string / 'nan'-family literals → NULL."""
    t = F.trim(c)
    return F.when(t.isNull() | (t == "") | F.lower(t).isin("nan", "null", "none"), F.lit(None).cast("string")).otherwise(c)


def repair_text(df: DataFrame) -> DataFrame:
    cols = set(_string_cols(df))
    return df.select(
        *[
            normalize_sentinels_expr(repair_mojibake_expr(F.trim(F.col(c)))).alias(c)
            if c in cols
            else F.col(c)
            for c in df.columns
        ]
    )


# --- B6: schema-cast with try_cast (type "detection" made explicit) --------


def cast_columns(df: DataFrame, types: dict[str, str]) -> DataFrame:
    """Cast string-ingested columns to declared types; unparseable
    values become NULL (Spark try_cast) rather than SQLite's 0."""
    return df.select(
        *[
            F.col(c).try_cast(types[c]).alias(c) if c in types else F.col(c)
            for c in df.columns
        ]
    )


# --- B7: audit-column stamping ----------------------------------------------


def stamp_audit_columns(df: DataFrame, loaded_at=None) -> DataFrame:
    ts = F.lit(loaded_at).cast("timestamp") if loaded_at else F.current_timestamp()
    return df.withColumn("etl_loaded_at", ts).withColumn("etl_updated_at", ts)


# --- full pipeline -----------------------------------------------------------


def clean(df: DataFrame) -> tuple[DataFrame, CleaningReport]:
    """B1→B4 pipeline as one lazy chain, plus its report: the B1 count
    and the B2 per-column null profile, observed on the input as the
    cleaned frame's first action reads it (no action of its own)."""
    all_null = _all_null(df)
    observation = Observation()
    observed = df.observe(
        observation,
        F.count_if(all_null).alias(_ALL_NULL),
        *[F.count_if(F.col(c).isNull() & ~all_null).alias(c) for c in _data_cols(df)],
    )
    out = repair_text(drop_all_null_rows(observed))
    return out, CleaningReport(observation)
