"""Pipe-delimited text scan with encoding fallback (SURVEY.md A1).

Re-expresses the reference's ``_read_file`` (/root/reference/core/
etl_service.py:635-657): ``sep='|'``, ``quotechar='"'``, header row,
every column read as string (SQLite-affinity parity — casting happens
later against the declared schema), null sentinels
``'', NULL, null, None``, and encoding fallback utf-8 → latin-1 →
cp1252.

Spark's CSV reader takes one encoding per read, so fallback is a
cheap driver-side probe of the first bytes rather than a full-file
retry loop: the probe decides the encoding, the distributed read runs
once. The same probe yields the header line, so the scan gets an
all-string schema and Spark runs no job to infer the header. At 100 TB
the read stays fully parallel (CSV is splittable when not multiline).
"""

from __future__ import annotations

import csv
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

NULL_VALUES = ("", "NULL", "null", "None")
ENCODING_CHAIN = ("utf-8", "latin-1", "cp1252")
_PROBE_BYTES = 1 << 20

# Spark's CSV reader accepts only a charset whitelist; latin-1/cp1252
# read as iso-8859-1 (byte-complete: every byte decodes, matching the
# reference's fallback intent).
_SPARK_CHARSETS = {"utf-8": "utf-8", "latin-1": "iso-8859-1", "cp1252": "iso-8859-1"}


def _head(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read(_PROBE_BYTES)


def _encoding_of(head: bytes) -> str:
    for enc in ENCODING_CHAIN:
        try:
            head.decode(enc)
            return enc
        except UnicodeDecodeError:
            continue
    return ENCODING_CHAIN[-1]


def detect_encoding(path: str) -> str:
    """First encoding in the chain that decodes the head of the file.

    latin-1 decodes any byte sequence, so the chain effectively means
    "utf-8 when valid, else latin-1" — same outcome as the reference's
    try/except ladder without re-reading the whole file per attempt.
    """
    return _encoding_of(_head(path))


def _header_columns(text: str, sep: str = "|") -> list[str]:
    """Column names Spark's CSV reader gives the header of ``text``.

    The header is the first non-blank line (a leading UTF-8 BOM
    dropped), split with ``"`` quoting. Names are made safe the way
    Spark's ``makeSafeHeader`` does with case-insensitive analysis: an
    empty name becomes ``_c<i>``, and a name that repeats
    case-insensitively gets its index ``i`` appended.
    """
    lines = re.split(r"\r\n|\r|\n", text.removeprefix("\ufeff"))
    line = next((ln for ln in lines if ln.strip()), None)
    if line is None:
        return []
    row = next(csv.reader([line], delimiter=sep, quotechar='"', doublequote=True))
    lowered = [v.lower() for v in row]
    dup = {v for v in lowered if lowered.count(v) > 1}
    return [
        f"_c{i}" if not v else f"{v}{i}" if v.lower() in dup else v
        for i, v in enumerate(row)
    ]


def null_sentinels(c: str) -> Column:
    """Column ``c`` with every null sentinel NULL (the CSV reader's
    ``nullValue`` option covers only the empty string)."""
    sentinels = [s for s in NULL_VALUES if s]
    return F.when(F.col(c).isin(*sentinels), None).otherwise(F.col(c)).alias(c)


def read_delimited(
    spark: SparkSession,
    path: str,
    sep: str = "|",
    encoding: str | None = None,
    with_line_number: bool = False,
) -> DataFrame:
    """All-string scan of one delimited file.

    ``with_line_number=True`` adds a per-file monotonic ``_line_no``
    used by the upsert's within-batch keep-last semantics (the
    reference's sequential-UPDATE outcome depends on row order; SURVEY
    §7.3).
    """
    head = _head(path)
    enc = encoding or _encoding_of(head)
    charset = _SPARK_CHARSETS.get(enc, enc)
    names = _header_columns(head.decode(charset, errors="replace"), sep)
    df = (
        spark.read.schema(StructType([StructField(n, StringType()) for n in names]))
        .option("header", True)
        .option("sep", sep)
        .option("quote", '"')
        .option("escape", '"')
        .option("encoding", charset)
        .option("nullValue", "")
        .csv(path)
    )
    cols = [null_sentinels(c) for c in names]
    if with_line_number:
        cols.append(F.monotonically_increasing_id().alias("_line_no"))
    return df.select(*cols)
