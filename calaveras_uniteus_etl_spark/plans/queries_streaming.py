"""Event-stream operators, batch-checkable form.

The reference has no streaming semantics (SURVEY.md §2.K) — these are
the driver's north-star extensions expressed so the SAME logical plans
serve both execution modes:

- ``s1_tumbling_window`` uses ``F.window`` — the exact operator a
  ``readStream`` + watermark pipeline runs; in batch it is an ordinary
  hash aggregate on the bucketed key.
- ``s2_sessionization`` is the gap-and-island form of a stateful
  session operator; in batch it is two window functions and an
  aggregate.

Scale notes: the window aggregate shuffles once on (window, type) —
partial aggregation happens map-side; sessionization shuffles once on
user_id and both window functions reuse that single sort. Sums of the
double ``value`` measure go through exact DECIMAL (plans/_exact.py) so
results are partition-order independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from calaveras_uniteus_etl_spark.functions.datetime_ext import epoch_us
from calaveras_uniteus_etl_spark.plans._exact import VALUE6, dec, exact_sum
from calaveras_uniteus_etl_spark.plans.catalog import register
from calaveras_uniteus_etl_spark.plans.tables import table

WINDOW = "6 hours"
SESSION_GAP_MIN = 360  # same 6-hour scale as the window


@register(
    "s1_tumbling_window",
    oracle=f"""
SELECT time_bucket(INTERVAL '{WINDOW}', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)
         AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc="Tumbling 6-hour window aggregate via F.window — the identical "
    "plan Structured Streaming runs behind a watermark "
    "(streaming/windows.py); exact-decimal value sums.",
)
def s1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", WINDOW).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(dec("value", VALUE6), "sum_value", scale=6),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "s2_sessionization",
    oracle=f"""
WITH lagged AS (
  SELECT user_id, event_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > {SESSION_GAP_MIN}::BIGINT * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM lagged
), sess AS (
  SELECT user_id, event_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
), per_session AS (
  SELECT user_id, session_no, COUNT(*) AS n_events,
         epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
  FROM sess GROUP BY 1, 2
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(MAX(n_events) AS BIGINT) AS longest_session_events,
       CAST(SUM(dur_us) AS DOUBLE) / 60000000 AS total_session_minutes
FROM per_session
GROUP BY user_id
""",
    doc="Gap sessionization (6h inactivity): lag + running-sum session "
    "ids, per-user session stats — the batch twin of the "
    "applyInPandasWithState stateful operator.",
)
def s2_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = epoch_us(F.col("ts")) - epoch_us(F.lag("ts").over(order))
    flagged = e.withColumn(
        "new_session",
        F.when(
            gap_us.isNull() | (gap_us > SESSION_GAP_MIN * 60 * 1_000_000), 1
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_no",
        F.sum("new_session").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        (epoch_us(F.max("ts")) - epoch_us(F.min("ts"))).alias("dur_us"),
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("total_events"),
        F.max("n_events").alias("longest_session_events"),
        (F.sum("dur_us").cast("double") / F.lit(60000000)).alias(
            "total_session_minutes"
        ),
    )


# ---------------------------------------------------------------------------
# S3 — at-least-once replay → exactly-once recovery (stream dedup twin)
#
# Batch twin of ``dropDuplicatesWithinWatermark`` (exercised on a real
# stream in tests/test_streaming.py): the input is the event log UNION
# a replayed 1-in-7 slice — exactly what an at-least-once source
# delivers after a retry — and the dedup keeps one row per event_id.
# The oracle aggregates the ORIGINAL log, so the hash match proves the
# dedup restored exactly-once semantics. One shuffle on the dedup key;
# in streaming the same state is bounded by the watermark instead of
# the batch boundary.
# ---------------------------------------------------------------------------


@register(
    "s3_replay_dedup",
    oracle=f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)
         AS sum_value
FROM events
GROUP BY event_type
""",
    doc="Exactly-once recovery from at-least-once replay: union a "
    "replayed slice, dropDuplicates on event_id; oracle aggregates "
    "the original log — hash match proves the dedup.",
)
def s3_replay_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    replayed = e.unionByName(e.filter(F.col("event_id") % 7 == 0))
    return (
        replayed.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(dec("value", VALUE6), "sum_value", scale=6),
        )
    )


# ---------------------------------------------------------------------------
# S4 — stream-stream interval join (click → purchase attribution)
#
# Registry twin of streaming/windows.py:interval_join, the watermarked
# stream-stream join whose batch form is the identical logical plan
# (parity proven in tests/test_streaming.py::
# test_stream_stream_interval_join_matches_batch). The time bound is
# what lets streaming evict join state; in batch it is a range filter
# above a single user_id shuffle. Aggregating to per-user pair counts
# keeps the checked surface stable and the output bounded.
# ---------------------------------------------------------------------------

_S4_GAP_MIN = 30


@register(
    "s4_interval_join",
    oracle=f"""
SELECT c.user_id,
       COUNT(*) AS n_pairs,
       CAST(MIN(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS min_lag_us,
       CAST(MAX(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS max_lag_us
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL {_S4_GAP_MIN} MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
GROUP BY c.user_id
ORDER BY c.user_id
""",
    doc="Stream-stream interval join, batch-checkable form: purchases "
    "attributed to same-user clicks within 30 minutes, rolled up per "
    "user. Both sides prune by event_type at the scan; one shuffle "
    "on user_id serves the join AND the rollup (same key).",
)
def s4_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.streaming.windows import interval_join

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("l_ts")
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("r_ts")
    )
    pairs = interval_join(clicks, buys, max_gap=f"{_S4_GAP_MIN} minutes")
    lag = epoch_us("r_ts") - epoch_us("l_ts")
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.min(lag).cast("bigint").alias("min_lag_us"),
            F.max(lag).cast("bigint").alias("max_lag_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# S5 — last-touch attribution (argmax companion to s4)
#
# s4 counts all click→purchase pairs; attribution pipelines credit
# each purchase to exactly ONE touch — the most recent same-user
# click inside the window (last-touch). The shape is the interval
# join plus a per-purchase ROW_NUMBER argmax, then a rollup of
# attributed purchase value per click-hour: the serving-layer table a
# marketing/ops deployment maintains. All on one user_id shuffle; the
# argmax window partitions by the purchase event id (already co-
# partitioned); value sums go through exact decimals.
# ---------------------------------------------------------------------------

_S5_GAP_MIN = 30


@register(
    "s5_last_touch_attribution",
    oracle=f"""
WITH pairs AS (
  SELECT c.ts AS c_ts, p.event_id AS p_id, p.ts AS p_ts, p.value AS p_value,
         ROW_NUMBER() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
  FROM events c
  JOIN events p
    ON p.user_id = c.user_id
   AND p.ts >= c.ts
   AND p.ts <= c.ts + INTERVAL {_S5_GAP_MIN} MINUTE
  WHERE c.event_type = 'click' AND p.event_type = 'purchase'
)
SELECT time_bucket(INTERVAL '1 hour', c_ts) AS click_hour,
       COUNT(*) AS n_purchases,
       CAST(CAST(SUM(CAST(p_value AS DECIMAL(18,6))) AS DECIMAL(38,6))
            AS DOUBLE) AS attributed_value
FROM pairs WHERE rn = 1
GROUP BY 1
ORDER BY click_hour
""",
    doc="Last-touch attribution: each purchase credited to its most "
    "recent same-user click within 30 min (per-purchase ROW_NUMBER "
    "argmax over the interval join), rolled up to attributed value "
    "per click-hour; exact-decimal sums.",
)
def s5_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.streaming.windows import interval_join

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        F.col("value").alias("p_value"),
    )
    pairs = interval_join(
        clicks,
        buys,
        left_ts="c_ts",
        right_ts="p_ts",
        max_gap=f"{_S5_GAP_MIN} minutes",
        extra=("c_id", "p_id", "p_value"),
    )
    w = Window.partitionBy("p_id").orderBy(F.desc("c_ts"), F.desc("c_id"))
    attributed = pairs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        attributed.groupBy(
            F.window("c_ts", "1 hour").alias("win")
        )
        .agg(
            F.count("*").alias("n_purchases"),
            exact_sum(dec("p_value", VALUE6), "attributed_value", scale=6),
        )
        .select(
            F.col("win.start").alias("click_hour"),
            "n_purchases",
            "attributed_value",
        )
        .orderBy("click_hour")
    )


# ---------------------------------------------------------------------------
# S6 — windowed top-k trending (the "what's hot right now" serving table)
#
# Per tumbling window, the top-3 event types by count with their rank —
# the leaderboard a monitoring/trending surface maintains incrementally
# (in streaming: the same aggregate behind a watermark, re-ranked per
# trigger in foreachBatch). Rank partitions BY WINDOW, so the sort
# parallelizes across windows at any scale; within a window the
# universe is |event_type| — bounded. Count ties break on event_type
# for engine-independent membership.
# ---------------------------------------------------------------------------

_S6_TOPK = 3


@register(
    "s6_windowed_topk",
    oracle=f"""
WITH counted AS (
  SELECT time_bucket(INTERVAL '{WINDOW}', ts) AS window_start,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n_events,
       CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT window_start, event_type, n_events,
         ROW_NUMBER() OVER (PARTITION BY window_start
                            ORDER BY n_events DESC, event_type) AS rnk
  FROM counted
) WHERE rnk <= {_S6_TOPK}
""",
    doc="Per-window top-3 trending event types (rank within tumbling "
    "6-hour windows, deterministic tie-break) — the incremental "
    "leaderboard shape; window-partitioned rank stays parallel at "
    "any scale.",
)
def s6_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    counted = (
        e.groupBy(F.window("ts", WINDOW).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _S6_TOPK)
        .select(
            "window_start",
            "event_type",
            "n_events",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# S7 — trailing EWMA drift monitor (stateful-operator batch twin)
#
# Per-user exponentially weighted moving average of purchase value at
# the user's LATEST purchase, truncated to the trailing 8 events —
# the metric a streaming anomaly/drift monitor keeps per key.
#
# Determinism: a float EWMA recursion is reduction-order-poison, so
# the weights are dyadic (alpha = 1/2, truncated at depth 8 with the
# tail mass folded into the oldest term: 64/128, 32/128, ..., 1/128,
# 1/128). Values quantize to cents once; the weighted sum is then a
# BIGINT dot product and the single division by 12800.0 is one IEEE
# op on identical operands in both engines.
#
# Scale shape: one shuffle on user_id; the lag window sorts each
# user's purchases locally (partitioned window — no global sort).
# ---------------------------------------------------------------------------

EWMA_DEPTH = 8
_EWMA_W = [1 << (EWMA_DEPTH - 2 - j) for j in range(EWMA_DEPTH - 1)] + [1]
_EWMA_DENOM = (1 << (EWMA_DEPTH - 1)) * 100  # weights sum * cents scale


def _ewma_dot(cols: list[str]) -> str:
    """Σ w_j · c_j as SQL text (identical in both dialects)."""
    return " + ".join(f"{w} * {c}" for w, c in zip(_EWMA_W, cols))


@register(
    "s7_ewma_drift",
    oracle=f"""
WITH p AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS c0
  FROM events WHERE event_type = 'purchase'
), lagged AS (
  SELECT user_id, c0,
         {", ".join(f"LAG(c0, {j}) OVER w AS c{j}" for j in range(1, EWMA_DEPTH))},
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn_desc,
         COUNT(*) OVER (PARTITION BY user_id) AS n_purchases
  FROM p
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, n_purchases,
       CAST(c0 AS DOUBLE) / 100 AS last_value,
       CAST({_ewma_dot([f"c{j}" for j in range(EWMA_DEPTH)])} AS DOUBLE)
         / {_EWMA_DENOM} AS ewma
FROM lagged
WHERE rn_desc = 1 AND n_purchases >= {EWMA_DEPTH}
ORDER BY user_id
""",
    doc="Trailing-8 dyadic EWMA (alpha=1/2) of purchase value per "
    "user at their latest purchase — exact BIGINT cent arithmetic, "
    "batch twin of the applyInPandasWithState drift monitor.",
)
def s7_ewma_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("c0"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = p.select(
        "user_id",
        "c0",
        *[F.lag("c0", j).over(w).alias(f"c{j}") for j in range(1, EWMA_DEPTH)],
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn_desc"),
        F.count("*").over(Window.partitionBy("user_id")).alias("n_purchases"),
    )
    dot = F.expr(_ewma_dot([f"c{j}" for j in range(EWMA_DEPTH)]))
    return (
        lagged.filter(
            (F.col("rn_desc") == 1) & (F.col("n_purchases") >= EWMA_DEPTH)
        )
        .select(
            "user_id",
            "n_purchases",
            (F.col("c0").cast("double") / 100).alias("last_value"),
            (dot.cast("double") / _EWMA_DENOM).alias("ewma"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# S8 — left-outer interval join (orphan accounting)
#
# s4 keeps only clicks that converted; the operational twin keeps every
# click and reports the unconverted ones — the relation a marketing
# pipeline alerts on. Same interval predicate, LEFT OUTER: per user,
# total clicks, clicks with ≥1 purchase in-window, orphan clicks.
# In streaming mode the SAME operator (streaming/windows.interval_join
# with how="left_outer") emits the null-matched rows once the
# watermark passes each click's join interval — identical totals one
# watermark delay later, proven across triggers in
# tests/test_streaming.py.
#
# Scale shape: both sides prune by event_type at the scan; one
# user_id shuffle serves join and rollup. The outer side adds no
# state beyond the inner join's (the interval bound is what lets
# streaming evict either way).
# ---------------------------------------------------------------------------


@register(
    "s8_interval_join_outer",
    oracle=f"""
WITH j AS (
  SELECT c.user_id, c.ts AS l_ts, p.ts AS r_ts
  FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    ON p.user_id = c.user_id
   AND p.ts >= c.ts
   AND p.ts <= c.ts + INTERVAL {_S4_GAP_MIN} MINUTE
), per_click AS (
  SELECT user_id, l_ts, COUNT(r_ts) AS n_matches
  FROM j GROUP BY user_id, l_ts
)
SELECT user_id,
       COUNT(*) AS n_clicks,
       CAST(SUM(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS converted_clicks,
       CAST(SUM(CASE WHEN n_matches = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS orphan_clicks
FROM per_click
GROUP BY user_id
ORDER BY user_id
""",
    doc="Left-outer interval join: every click kept, per-user "
    "converted vs orphan counts — the unconverted-traffic relation. "
    "Streaming twin emits null matches after watermark expiry "
    "(interval_join how='left_outer').",
)
def s8_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.streaming.windows import interval_join

    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("l_ts")
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("r_ts")
    )
    pairs = interval_join(
        clicks, buys, max_gap=f"{_S4_GAP_MIN} minutes", how="left_outer"
    )
    per_click = pairs.groupBy("user_id", "l_ts").agg(
        F.count("r_ts").alias("n_matches")
    )
    return (
        per_click.groupBy("user_id")
        .agg(
            F.count("*").alias("n_clicks"),
            F.sum(F.when(F.col("n_matches") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("converted_clicks"),
            F.sum(F.when(F.col("n_matches") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("orphan_clicks"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# S9 — incremental sessionization (state handoff across a batch cut)
#
# The incremental-warehouse question g2 doesn't answer: when tonight's
# batch ends mid-session, can tomorrow's run CONTINUE that session
# without reprocessing history? The operator cuts the stream at a
# fixed boundary T, fully sessionizes the left half, closes every
# session that ended more than one gap before T, and carries the at-
# most-one still-open session per user forward as a STATE ROW
# (last_ts, running count, original start). The right half is then
# sessionized with those state rows injected as anchors — an anchor
# within one gap of the first new event fuses with it, carrying the
# original session start and event count into the continued session.
# The census of closed ∪ continued sessions is proven equal to the
# full-batch result by the oracle, which recomputes sessionization
# over ALL events in one pass (g2's exact SQL): the hash match IS the
# exactly-once handoff proof — no session split, lost, or
# double-counted at the boundary.
#
# At most one session per user can be open at T: an earlier session's
# end precedes the next session's start by more than the gap, so only
# the last session can reach within gap of the cut. Scale: both
# halves shuffle once on user_id (the assign_sessions contract); the
# state relation is ≤ one row per user.
# ---------------------------------------------------------------------------

from calaveras_uniteus_etl_spark.plans.queries_aggregates import (  # noqa: E402
    _G2_GAP_US,
)

_S9_CUT = "2024-01-16 00:00:00"  # batch boundary T


@register(
    "s9_incremental_sessionize",
    oracle=f"""
WITH t AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id)
              > {_G2_GAP_US} OR LAG(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), numbered AS (
  SELECT user_id, t,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_idx
  FROM t
), sessions AS (
  SELECT user_id, sess_idx, COUNT(*) AS n_events,
         MAX(t) - MIN(t) AS dur_us
  FROM numbered GROUP BY user_id, sess_idx
)
SELECT CASE WHEN n_events = 1 THEN '1' WHEN n_events <= 4 THEN '2-4'
            WHEN n_events <= 9 THEN '5-9' ELSE '10+' END AS bucket,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(dur_us) AS DOUBLE) / COUNT(*) AS avg_dur_us
FROM sessions
GROUP BY 1
ORDER BY bucket
""",
    doc="Incremental sessionization: fully sessionize events before a "
    "fixed cut, close sessions ending more than one gap before it, "
    "carry the at-most-one open session per user forward as a state "
    "anchor (original start + running count), sessionize the rest "
    "with anchors injected. Oracle recomputes the full batch in one "
    "pass — the hash match proves the boundary handoff is exact.",
)
def s9_incremental_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.operators.sessions import assign_sessions

    cut_us = F.lit(_S9_CUT).cast("timestamp_ntz")
    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        epoch_us("ts").alias("t"),
        epoch_us(cut_us).alias("cut"),
    )
    cut_col = F.col("cut")

    # --- phase A: full sessionization of the left half -------------
    left = e.filter(F.col("t") < cut_col)
    sess_a = (
        assign_sessions(left, "user_id", "t", "event_id", _G2_GAP_US)
        .groupBy("user_id", "sess_idx")
        .agg(
            F.min("t").alias("start"),
            F.max("t").alias("end"),
            F.count("*").alias("n"),
            F.first("cut").alias("cut"),
        )
    )
    closed = sess_a.filter(F.col("end") < cut_col - F.lit(_G2_GAP_US)).select(
        "user_id",
        F.col("n").alias("n_events"),
        (F.col("end") - F.col("start")).alias("dur_us"),
    )
    open_state = sess_a.filter(
        F.col("end") >= cut_col - F.lit(_G2_GAP_US)
    ).select(
        "user_id",
        F.col("end").alias("t"),
        F.lit(-1).cast("long").alias("event_id"),  # sorts before real ids
        F.col("n").alias("carry_n"),
        F.col("start").alias("carry_start"),
    )

    # --- phase B: right half + state anchors ------------------------
    right = e.filter(F.col("t") >= cut_col).select(
        "user_id",
        "t",
        F.col("event_id").cast("long").alias("event_id"),
        F.lit(1).alias("carry_n"),
        F.col("t").alias("carry_start"),
    )
    combined = right.unionByName(open_state)
    sess_b = (
        assign_sessions(combined, "user_id", "t", "event_id", _G2_GAP_US)
        .groupBy("user_id", "sess_idx")
        .agg(
            F.sum("carry_n").alias("n_events"),
            (F.max("t") - F.min("carry_start")).alias("dur_us"),
        )
        .select("user_id", "n_events", "dur_us")
    )

    sessions = closed.unionByName(sess_b)
    bucket = (
        F.when(F.col("n_events") == 1, "1")
        .when(F.col("n_events") <= 4, "2-4")
        .when(F.col("n_events") <= 9, "5-9")
        .otherwise("10+")
    )
    return (
        sessions.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            (F.sum("dur_us").cast("double") / F.count("*")).alias(
                "avg_dur_us"
            ),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# S10 — native session_window ≡ relational gaps-and-islands
#
# Spark ships a first-class session operator (F.session_window, the
# same construct Structured Streaming uses for watermarked session
# aggregation); this query is the PARITY PROOF against the relational
# definition: a session is a maximal run of same-user events whose
# gaps are ≤ 30 min, its span is last_ts + gap − first_ts. The DuckDB
# oracle computes sessions the only way ANSI SQL can (prefix-max-end
# island sweep, g21's machinery); Spark computes them with the native
# operator — hash-identical output means the built-in's merge
# semantics match the declarative spec exactly, which is what makes
# the streaming twin (session_window + watermark) trustworthy.
#
# Scale: session_window plans as a single user_id shuffle with
# session merge inside the aggregate — no window function at all on
# the Spark side.
# ---------------------------------------------------------------------------

_S10_GAP_US = 30 * 60 * 1_000_000


@register(
    "s10_session_window_native",
    oracle=f"""
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS s,
         epoch_us(ts) + {_S10_GAP_US} AS e
  FROM events
), mk AS (
  SELECT user_id, event_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS ni
  FROM iv
), isl AS (
  SELECT user_id, s, e,
         SUM(ni) OVER (PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM mk
), sess AS (
  SELECT user_id, island, COUNT(*) AS n_events,
         MAX(e) - MIN(s) AS span_us
  FROM isl GROUP BY user_id, island
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(span_us) AS BIGINT) AS total_span_us,
       CAST(MAX(span_us) AS BIGINT) AS longest_span_us
FROM sess GROUP BY user_id ORDER BY user_id
""",
    doc="Parity proof for Spark's native session_window against the "
    "ANSI islands definition (30-min gap): per-user session count, "
    "event count, total and longest session span in exact "
    "microseconds — the hash match certifies the built-in merge "
    "semantics the streaming twin relies on.",
)
def s10_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    sess = e.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(F.count("*").alias("n_events"))
    span = epoch_us(F.col("sw.end")) - epoch_us(F.col("sw.start"))
    return (
        sess.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum(span).cast("bigint").alias("total_span_us"),
            F.max(span).cast("bigint").alias("longest_span_us"),
        )
        .orderBy("user_id")
    )
