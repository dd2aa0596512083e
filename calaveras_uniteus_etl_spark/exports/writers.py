"""Export sinks: single CSV, zip-of-CSVs, SQL dump, SQLite, Excel
(SURVEY.md A8-A10; reference /root/reference/core/app.py:1882-2202,
2283-2324).

Every sink is one local file, so each collects on the driver with an
explicit row cap — the reference's own Excel export caps at 100k rows
(core/app.py:2062), and that cap generalizes here to every sink.
"""

from __future__ import annotations

import csv
import io
import os
import zipfile

from pyspark.sql import DataFrame

SINGLE_FILE_ROW_CAP = 100_000  # reference Excel cap, applied to all driver-side sinks


def _iter_capped(df: DataFrame, cap: int):
    n = 0
    for row in df.toLocalIterator():
        if n >= cap:
            break
        yield row
        n += 1


def _write_csv(df: DataFrame, f, cap: int) -> int:
    """Write ``df``'s header and its first ``cap`` rows as CSV to ``f``."""
    w = csv.writer(f)
    w.writerow(df.columns)
    n = 0
    for row in _iter_capped(df, cap):
        w.writerow([row[c] for c in df.columns])
        n += 1
    return n


def export_single_csv(df: DataFrame, path: str, cap: int = SINGLE_FILE_ROW_CAP) -> int:
    """One local CSV file (reference per-table export, app.py:2283-2324)."""
    with open(path, "w", newline="", encoding="utf-8") as f:
        return _write_csv(df, f, cap)


def export_zip(tables: dict[str, DataFrame], path: str, cap: int = SINGLE_FILE_ROW_CAP) -> dict[str, int]:
    """Zip of per-table CSVs (reference app.py:1882-1931)."""
    counts: dict[str, int] = {}
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, df in tables.items():
            buf = io.StringIO()
            counts[name] = _write_csv(df, buf, cap)
            z.writestr(f"{name}.csv", buf.getvalue())
    return counts


def export_sql_dump(tables: dict[str, DataFrame], path: str, cap: int = SINGLE_FILE_ROW_CAP) -> None:
    """INSERT-statement dump (reference app.py:1934-2202 'sql' branch)."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, (int, float)):
            return str(v)
        return "'" + str(v).replace("'", "''") + "'"

    with open(path, "w", encoding="utf-8") as f:
        for name, df in tables.items():
            cols = ", ".join(df.columns)
            for row in _iter_capped(df, cap):
                values = ", ".join(lit(row[c]) for c in df.columns)
                f.write(f"INSERT INTO {name} ({cols}) VALUES ({values});\n")


def export_sqlite(
    tables: dict[str, DataFrame], path: str, cap: int = SINGLE_FILE_ROW_CAP
) -> dict[str, int]:
    """Single-file SQLite database (reference app.py:1934-2202 '.db'
    branch). Driver-side by nature — a .db file is not a distributed
    sink — so it runs through the same capped local iterator as every
    other single-file export. Types map by Spark dtype: integral →
    INTEGER, fractional/decimal → REAL, everything else TEXT (SQLite
    affinity semantics make finer DDL pointless)."""
    import datetime as _dt
    import decimal as _decimal
    import sqlite3

    def sql_type(spark_type: str) -> str:
        if spark_type in ("tinyint", "smallint", "int", "bigint", "boolean"):
            return "INTEGER"
        if spark_type in ("float", "double") or spark_type.startswith("decimal"):
            return "REAL"
        return "TEXT"

    def adapt(v):
        if isinstance(v, bool):
            return int(v)
        if isinstance(v, _decimal.Decimal):
            return float(v)
        if isinstance(v, (_dt.datetime, _dt.date)):
            return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
        if isinstance(v, (list, dict)):
            return str(v)
        return v

    counts: dict[str, int] = {}
    if os.path.exists(path):
        os.remove(path)  # overwrite semantics, like every other sink here
    con = sqlite3.connect(path)
    try:
        for name, df in tables.items():
            cols = ", ".join(
                f'"{c}" {sql_type(t)}' for c, t in df.dtypes
            )
            con.execute(f'CREATE TABLE "{name}" ({cols})')
            ph = ", ".join("?" for _ in df.columns)
            n = 0
            batch: list[tuple] = []
            for row in _iter_capped(df, cap):
                batch.append(tuple(adapt(row[c]) for c in df.columns))
                n += 1
                if len(batch) >= 1000:
                    con.executemany(f'INSERT INTO "{name}" VALUES ({ph})', batch)
                    batch = []
            if batch:
                con.executemany(f'INSERT INTO "{name}" VALUES ({ph})', batch)
            counts[name] = n
        con.commit()
    finally:
        con.close()
    return counts


def export_excel(tables: dict[str, DataFrame], path: str, cap: int = SINGLE_FILE_ROW_CAP) -> None:
    """Excel via pandas when an engine is available (reference caps at
    100k rows/table, app.py:2062); gated import — openpyxl may be absent."""
    try:
        import pandas as pd  # noqa: F401
        import openpyxl  # noqa: F401
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "excel export requires openpyxl; use fmt='csv' instead"
        ) from exc
    import pandas as pd

    with pd.ExcelWriter(path) as xw:
        for name, df in tables.items():
            df.limit(cap).toPandas().to_excel(xw, sheet_name=name[:31], index=False)
