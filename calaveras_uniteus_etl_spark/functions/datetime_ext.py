"""Date/time expressions mirroring the reference's SQLite SQL surface.

The reference does all date math in SQL text with ``strftime`` /
``julianday`` (e.g. /root/reference/core/app.py:2771-2776 for period
bucketing and :3111-3113 for resolution-time averages). These helpers
re-express those semantics as Catalyst column expressions — pure
built-ins, JVM-side, whole-stage-codegen friendly; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SECONDS_PER_DAY = 86400.0

# SQL fragment for the tz-free epoch origin, usable inside F.expr().
NTZ_EPOCH_SQL = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def epoch_us(ts: Column | str) -> Column:
    """Microseconds since 1970-01-01 00:00:00, timezone-free.

    For TIMESTAMP_NTZ and DATE inputs only. ``F.unix_micros`` only
    accepts TIMESTAMP (session-tz) input, so it rejects the
    TIMESTAMP_NTZ columns parquet scans produce and its value would
    shift with the session timezone. This computes the offset against
    an NTZ epoch literal instead — identical to DuckDB's ``epoch_us``
    over naive timestamps on any session timezone.

    Do NOT pass a session-tz TIMESTAMP column: its cast to
    timestamp_ntz reads the wall clock through the session timezone,
    so the result would shift with ``spark.sql.session.timeZone``.
    For instants, convert explicitly first
    (``to_utc_timestamp(ts, sessionLocalTimeZone)``) or use
    ``F.unix_micros`` directly.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.timestamp_diff(
        "MICROSECOND", F.expr(NTZ_EPOCH_SQL), c.cast("timestamp_ntz")
    )


def sqlite_week(ts: Column | str) -> Column:
    """``strftime('%Y-W%W', ts)`` parity (C/SQLite semantics).

    ``%W`` = zero-padded count of weeks with Monday as the first day;
    days before the first Monday of the year fall in week 00. Formula
    (C library): ``(yday0 + 7 - wday_monday0) / 7`` with 0-based day of
    year. Spark's ``weekday()`` is already Monday=0.

    Distinct from ISO ``weekofyear`` (which shifts year-boundary days
    into week 52/53 of the neighboring year) — using the built-in here
    would hash-mismatch every year boundary.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    week = F.floor((F.dayofyear(c) - F.lit(1) + F.lit(7) - F.weekday(c)) / F.lit(7))
    return F.concat(
        F.year(c).cast("string"), F.lit("-W"), F.lpad(week.cast("string"), 2, "0")
    )


def to_day(ts: Column | str) -> Column:
    """``strftime('%Y-%m-%d', ts)`` / ``DATE(ts)`` as a string label."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, "yyyy-MM-dd")


def to_month(ts: Column | str) -> Column:
    """``strftime('%Y-%m', ts)`` month bucket as a string label."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, "yyyy-MM")


def julian_day_diff(later: Column | str, earlier: Column | str) -> Column:
    """``julianday(later) - julianday(earlier)`` — fractional days.

    The reference averages these before rounding (``ROUND(AVG(...), 1)``,
    /root/reference/core/app.py:3111-3113), so sub-day precision must be
    preserved pre-aggregation. Computed as an exact integer microsecond
    difference divided by a double constant — deterministic across
    engines (DuckDB oracle: ``(epoch_us(a)-epoch_us(b))/86400e6``),
    unlike subtracting two inexact fractional-second doubles.
    """
    a = F.col(later) if isinstance(later, str) else later
    b = F.col(earlier) if isinstance(earlier, str) else earlier
    # parquet timestamps arrive as TIMESTAMP_NTZ; unix_micros needs
    # TIMESTAMP (session TZ is pinned to UTC, so the cast is lossless)
    us_a = F.unix_micros(a.cast("timestamp"))
    us_b = F.unix_micros(b.cast("timestamp"))
    return (us_a - us_b) / F.lit(SECONDS_PER_DAY * 1_000_000)
