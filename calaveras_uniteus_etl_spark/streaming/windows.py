"""Event-time interval join over an event stream.

The registry plans s4, s5 and s8 (plans/queries_streaming.py) and f40
(plans/queries_lifecycle.py) run ``interval_join`` on batch frames; the
same plan runs on streams, where watermarks on both sides bound the
join state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    max_gap: str = "1 hour",
    watermark: str = "1 hour",
    extra: tuple[str, ...] = (),
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join within an event-time interval.

    The canonical attribution shape: right-side events joined to
    left-side events of the same key that happened within ``max_gap``
    BEFORE them. On streams both sides carry watermarks and the time
    bound lets Spark evict join state (unbounded state otherwise); on
    batch DataFrames the same plan is an ordinary join + range filter,
    which is what the parity test exercises.

    ``how="left_outer"`` keeps unmatched LEFT rows (right columns
    null). Streaming semantics differ from batch in TIMING only: an
    unmatched left row cannot emit until the watermark passes the end
    of its join interval (before that, a matching right row could
    still arrive), so null-joined rows surface one watermark delay
    late — the same total rows as the batch twin, proven across
    triggers in tests/test_streaming.py.
    """
    l, r = left, right
    if l.isStreaming:
        l = l.withWatermark(left_ts, watermark)
    if r.isStreaming:
        r = r.withWatermark(right_ts, watermark)
    cond = (
        (l[key_col] == r[key_col])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {max_gap}"))
    )
    cols = [l[key_col].alias(key_col), l[left_ts], r[right_ts]]
    for c in extra:  # payload passthrough, resolved from its side
        in_l, in_r = c in l.columns, c in r.columns
        if in_l and in_r:
            raise ValueError(
                f"interval_join: extra column {c!r} exists on both sides; "
                "rename one side before joining (silent left-side "
                "resolution would be a wrong-column hazard)"
            )
        if not (in_l or in_r):
            raise ValueError(f"interval_join: extra column {c!r} on neither side")
        cols.append(l[c] if in_l else r[c])
    if how not in ("inner", "left_outer"):
        raise ValueError(f"interval_join: unsupported how={how!r}")
    return l.join(r, cond, how).select(*cols)
