"""Aggregation operator inventory (SURVEY.md §2.F, §2.H, §2.I).

Each query re-expresses one aggregation pattern from the reference's
report surface over the driver's synthetic star schema, with a DuckDB
oracle. Citations point at a representative reference site for the
pattern.

Scale notes: every query here is a single hash-aggregate (Catalyst does
partial/final automatically), grouped on low-cardinality keys — no
shuffle skew risk; top-k compiles to TakeOrderedAndProject (no global
sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from calaveras_uniteus_etl_spark.functions.datetime_ext import (
    epoch_us,
    julian_day_diff,
    sqlite_week,
    to_day,
    to_month,
)
from calaveras_uniteus_etl_spark.operators.prefix import (
    ntile_from_rank,
    prefix_rank,
)
from calaveras_uniteus_etl_spark.plans import _exact as X
from calaveras_uniteus_etl_spark.plans.catalog import register
from calaveras_uniteus_etl_spark.plans.tables import table

# ---------------------------------------------------------------------------
# F1 — global COUNT(*) with filters (reference: core/reports/handlers.py:25-74)
# ---------------------------------------------------------------------------

_F1_ORACLE = """
SELECT
  (SELECT COUNT(*) FROM customer)                                   AS customers,
  (SELECT COUNT(*) FROM orders   WHERE o_orderstatus <> 'F')        AS open_orders,
  (SELECT COUNT(*) FROM lineitem WHERE l_quantity >= 25)            AS big_lineitems,
  (SELECT COUNT(*) FROM events   WHERE event_type = 'purchase')     AS purchases
"""


@register(
    "f1_summary_counts",
    oracle=_F1_ORACLE,
    doc="Multi-table summary counts (cross-join of scalar aggregates).",
)
def f1_summary_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customers = table(spark, sf_dir, "customer").agg(F.count("*").alias("customers"))
    open_orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") != "F")
        .agg(F.count("*").alias("open_orders"))
    )
    big_lineitems = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 25)
        .agg(F.count("*").alias("big_lineitems"))
    )
    purchases = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.count("*").alias("purchases"))
    )
    return customers.crossJoin(open_orders).crossJoin(big_lineitems).crossJoin(purchases)


# ---------------------------------------------------------------------------
# F2 — COUNT(DISTINCT) per group (reference: core/app.py:2510-2520)
# ---------------------------------------------------------------------------


@register(
    "f2_count_distinct",
    oracle="""
SELECT o_orderstatus AS status,
       COUNT(DISTINCT o_custkey) AS unique_customers,
       COUNT(*) AS order_count
FROM orders GROUP BY o_orderstatus
""",
    doc="COUNT(DISTINCT col) by group — 'unique clients per status'.",
)
def f2_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.countDistinct("o_custkey").alias("unique_customers"),
            F.count("*").alias("order_count"),
        )
    )


# ---------------------------------------------------------------------------
# F3 — single-col GROUP BY + count + ORDER BY count DESC LIMIT n
#      (reference: core/reports/handlers.py:84-151 status/service dists)
# ---------------------------------------------------------------------------


@register(
    "f3_topk_group_count",
    oracle="""
SELECT p_brand AS brand, COUNT(*) AS cnt
FROM part GROUP BY p_brand
ORDER BY cnt DESC, brand LIMIT 10
""",
    doc="Top-k single-column distribution (TakeOrderedAndProject).",
)
def f3_topk_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "part")
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("brand"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# F4 — multi-column GROUP BY, full aggregate battery (flagship; pattern of
#      core/app.py:3487-3527 two-level service distribution). TPC-H Q1 shape.
# ---------------------------------------------------------------------------

_F4_ORACLE = f"""
SELECT l_returnflag AS return_flag,
       l_linestatus AS line_status,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))
            AS DOUBLE) AS sum_qty,
       {X.o_sum('l_extendedprice', 'sum_base_price')},
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS VARCHAR)
         AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(6,4)))
                * (1 + CAST(l_tax AS DECIMAL(6,4)))) AS VARCHAR)
         AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       {X.o_avg('l_extendedprice', '*', 'avg_price')},
       CAST(SUM(CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "f4_pricing_summary",
    oracle=_F4_ORACLE,
    doc="Flagship: multi-column group-by with sum/avg battery over the "
    "fact table (exact-decimal arithmetic; single shuffle on 2 keys).",
)
def f4_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp")
    )
    qty = X.dec("l_quantity")
    price = X.dec("l_extendedprice")
    disc = X.dec("l_discount", X.RATE)
    tax = X.dec("l_tax", X.RATE)
    return li.groupBy(
        F.col("l_returnflag").alias("return_flag"),
        F.col("l_linestatus").alias("line_status"),
    ).agg(
        X.exact_sum(qty, "sum_qty"),
        X.exact_sum(price, "sum_base_price"),
        # surfaced as exact decimal STRINGS at native scale: any rescale
        # disagrees across engines (Spark HALF_UP vs DuckDB truncation),
        # and a scale-10 double cast is inexact past 2^53 unscaled —
        # identical unscaled values print identically at any magnitude
        F.sum(price * (F.lit(1) - disc))
        .cast("decimal(38,6)")
        .cast("string")
        .alias("sum_disc_price"),
        F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
        .cast("decimal(38,10)")
        .cast("string")
        .alias("sum_charge"),
        X.exact_avg(qty, F.lit(1), "avg_qty"),
        X.exact_avg(price, F.lit(1), "avg_price"),
        X.exact_avg(disc, F.lit(1), "avg_disc"),
        F.count("*").alias("count_order"),
    )


# ---------------------------------------------------------------------------
# F5 — conditional aggregation / pivot-by-CASE (reference: core/app.py:2824-2834)
# ---------------------------------------------------------------------------


@register(
    "f5_conditional_agg",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS fulfilled,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
         AS open_cnt,
       COUNT(CASE WHEN o_totalprice > 200000 THEN 1 END) AS big_orders,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                     THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE)
         / COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS avg_open_price
FROM orders GROUP BY o_orderpriority
""",
    doc="SUM/COUNT/AVG over CASE WHEN — pivot-style conditional aggregates.",
)
def f5_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    is_f = F.col("o_orderstatus") == "F"
    is_o = F.col("o_orderstatus") == "O"
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.sum(F.when(is_f, 1).otherwise(0)).alias("fulfilled"),
        F.sum(F.when(is_o, 1).otherwise(0)).alias("open_cnt"),
        F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("big_orders"),
        (
            F.sum(F.when(is_o, X.dec("o_totalprice"))).cast("double")
            / F.count(F.when(is_o, 1))
        ).alias("avg_open_price"),
    )


# ---------------------------------------------------------------------------
# F6 — AVG/MIN/MAX of date differences (reference: core/app.py:3096-3139
#      resolution-time by service; julianday arithmetic)
# ---------------------------------------------------------------------------


@register(
    "f6_date_diff_stats",
    oracle="""
SELECT l.l_returnflag AS return_flag,
       ROUND(SUM((epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)) / 86400e6)
             / COUNT(*), 1) AS avg_ship_days,
       ROUND(MIN((epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)) / 86400e6), 1)
         AS min_ship_days,
       ROUND(MAX((epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)) / 86400e6), 1)
         AS max_ship_days,
       COUNT(*) AS n
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY l.l_returnflag
""",
    doc="julianday-style fractional-day diff stats (ROUND(AVG(...),1)).",
)
def f6_date_diff_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    gap = julian_day_diff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.round(F.sum(gap) / F.count("*"), 1).alias("avg_ship_days"),
            F.round(F.min(gap), 1).alias("min_ship_days"),
            F.round(F.max(gap), 1).alias("max_ship_days"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# F7 — HAVING threshold (reference: core/app.py:3119 'HAVING total >= 3')
# ---------------------------------------------------------------------------


@register(
    "f7_having_threshold",
    oracle="""
SELECT o_custkey AS custkey, COUNT(*) AS order_count
FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 12
""",
    doc="Post-aggregation filter (HAVING) — frequent customers.",
)
def f7_having_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("order_count"))
        .filter(F.col("order_count") >= 12)
    )


# ---------------------------------------------------------------------------
# F8 — ORDER BY computed rate (reference: core/app.py:4374)
# ---------------------------------------------------------------------------


@register(
    "f8_order_by_rate",
    oracle="""
SELECT o_orderpriority AS priority,
       COUNT(*) AS total,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS fulfilled,
       ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) * 100.0
             / COUNT(*), 1) AS fulfillment_rate
FROM orders GROUP BY o_orderpriority
ORDER BY fulfillment_rate DESC, priority
""",
    doc="Rate computed in the aggregate and used as the sort key.",
)
def f8_order_by_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    fulfilled = F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
    return (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("total"),
            fulfilled.alias("fulfilled"),
            F.round(fulfilled * 100.0 / F.count("*"), 1).alias("fulfillment_rate"),
        )
        .orderBy(F.desc("fulfillment_rate"), F.asc("priority"))
    )


# ---------------------------------------------------------------------------
# F9 — time-bucketed counts: daily / SQLite-week / monthly
#      (reference: core/app.py:2759-2810, 3410-3484; strftime buckets)
# ---------------------------------------------------------------------------


@register(
    "f9_daily_counts",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS cnt
FROM events GROUP BY day, event_type
""",
    doc="strftime('%Y-%m-%d') daily bucketing by type.",
)
def f9_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy(to_day("ts").alias("day"), F.col("event_type"))
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "f9_weekly_counts",
    oracle="""
SELECT strftime(ts, '%Y-W%W') AS week, COUNT(*) AS cnt,
       COUNT(DISTINCT user_id) AS active_users
FROM events GROUP BY week
""",
    doc="SQLite '%Y-W%W' week bucketing — custom expression "
    "(C-semantics Monday week-of-year, NOT ISO weekofyear).",
)
def f9_weekly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy(sqlite_week("ts").alias("week"))
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("user_id").alias("active_users"),
        )
    )


@register(
    "f9_monthly_counts",
    oracle="""
SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderstatus AS status,
       COUNT(*) AS cnt
FROM orders GROUP BY month, status
""",
    doc="strftime('%Y-%m') period × status matrix (timeline datasets).",
)
def f9_monthly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy(
            to_month("o_orderdate").alias("month"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# F10 — cohort analysis, two-level aggregate with CTEs
#       (reference: core/app.py:3939-4007)
# ---------------------------------------------------------------------------

_F10_ORACLE = """
WITH first_order AS (
  SELECT o_custkey, MIN(o_orderdate) AS first_date
  FROM orders GROUP BY o_custkey
)
SELECT strftime(f.first_date, '%Y-%m') AS cohort,
       COUNT(DISTINCT f.o_custkey) AS cohort_size,
       COUNT(DISTINCT CASE WHEN strftime(o.o_orderdate, '%Y-%m')
                              <> strftime(f.first_date, '%Y-%m')
                           THEN o.o_custkey END) AS returned,
       ROUND(100.0 * COUNT(DISTINCT CASE WHEN strftime(o.o_orderdate, '%Y-%m')
                                            <> strftime(f.first_date, '%Y-%m')
                                         THEN o.o_custkey END)
             / NULLIF(COUNT(DISTINCT f.o_custkey), 0), 1) AS retention_pct
FROM first_order f JOIN orders o ON f.o_custkey = o.o_custkey
GROUP BY cohort
"""


@register(
    "f10_cohort_retention",
    oracle=_F10_ORACLE,
    doc="Cohort-by-first-month retention: two-stage aggregation, "
    "NULLIF-guarded percentage.",
)
def f10_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_date"))
    j = first.join(o, "o_custkey")
    returned_key = F.when(
        to_month("o_orderdate") != to_month("first_date"), F.col("o_custkey")
    )
    returned = F.countDistinct(returned_key)
    size = F.countDistinct("o_custkey")
    return j.groupBy(to_month("first_date").alias("cohort")).agg(
        size.alias("cohort_size"),
        returned.alias("returned"),
        F.round(100.0 * returned / F.nullif(size, F.lit(0)), 1).alias("retention_pct"),
    )


# ---------------------------------------------------------------------------
# F11 — single-row staged funnel (reference: core/reports/router.py:512-608)
# ---------------------------------------------------------------------------


@register(
    "f11_funnel",
    oracle="""
SELECT COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS views,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signups,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
       COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
         AS purchasing_users,
       ROUND(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) * 100.0
             / NULLIF(COUNT(CASE WHEN event_type = 'view' THEN 1 END), 0), 2)
         AS view_to_purchase_pct
FROM events
""",
    doc="One SELECT computing all funnel stages as conditional counts.",
)
def f11_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")

    def stage(t: str):
        return F.count(F.when(F.col("event_type") == t, 1))

    return e.agg(
        stage("view").alias("views"),
        stage("click").alias("clicks"),
        stage("signup").alias("signups"),
        stage("purchase").alias("purchases"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("purchasing_users"),
        F.round(
            stage("purchase") * 100.0 / F.nullif(stage("view"), F.lit(0)), 2
        ).alias("view_to_purchase_pct"),
    )


# ---------------------------------------------------------------------------
# F12/F13 — CASE-bucketed histogram with custom bucket ordering
#           (reference: core/reports/handlers.py:235-300 age brackets,
#            :257-268 ORDER BY CASE)
# ---------------------------------------------------------------------------

_BUCKET_SQL = """CASE WHEN c_acctbal < 0 THEN 'negative'
     WHEN c_acctbal < 2500 THEN 'low'
     WHEN c_acctbal < 5000 THEN 'mid'
     WHEN c_acctbal < 7500 THEN 'high'
     ELSE 'top' END"""

_ORDER_SQL = """CASE WHEN c_acctbal < 0 THEN 1 WHEN c_acctbal < 2500 THEN 2
     WHEN c_acctbal < 5000 THEN 3 WHEN c_acctbal < 7500 THEN 4 ELSE 5 END"""


def _acctbal_bucket():
    c = F.col("c_acctbal")
    return (
        F.when(c < 0, "negative")
        .when(c < 2500, "low")
        .when(c < 5000, "mid")
        .when(c < 7500, "high")
        .otherwise("top")
    )


def _acctbal_order():
    c = F.col("c_acctbal")
    return F.when(c < 0, 1).when(c < 2500, 2).when(c < 5000, 3).when(c < 7500, 4).otherwise(5)


@register(
    "f12_histogram_buckets",
    oracle=f"""
SELECT {_BUCKET_SQL} AS balance_bucket,
       MIN({_ORDER_SQL}) AS bucket_order,
       COUNT(*) AS cnt,
       COUNT(DISTINCT c_nationkey) AS nations
FROM customer
GROUP BY balance_bucket
ORDER BY bucket_order
""",
    doc="CASE-WHEN bucketing → GROUP BY bucket with custom sort index "
    "(F12 histogram + F13 ORDER BY CASE).",
)
def f12_histogram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "customer")
        .groupBy(_acctbal_bucket().alias("balance_bucket"))
        .agg(
            F.min(_acctbal_order()).alias("bucket_order"),
            F.count("*").alias("cnt"),
            F.countDistinct("c_nationkey").alias("nations"),
        )
        .orderBy("bucket_order")
    )


# ---------------------------------------------------------------------------
# F14 — DISTINCT value lists + global min/max (reference: core/app.py:3727-3831)
# ---------------------------------------------------------------------------


@register(
    "f14_distinct_values",
    oracle="SELECT DISTINCT o_orderpriority AS value FROM orders ORDER BY value",
    doc="Filter-options: DISTINCT column values, sorted.",
)
def f14_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("value"))
        .distinct()
        .orderBy("value")
    )


@register(
    "f14_date_range",
    oracle="""
SELECT strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_date,
       strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_date
FROM orders
""",
    doc="Global MIN/MAX date range for filter bounds.",
)
def f14_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").agg(
        to_day(F.min("o_orderdate")).alias("min_date"),
        to_day(F.max("o_orderdate")).alias("max_date"),
    )


# ---------------------------------------------------------------------------
# F15 — scatter aggregate (reference: core/reports/handlers.py:436-489)
# ---------------------------------------------------------------------------


@register(
    "f15_scatter",
    oracle="""
SELECT user_id, CAST(FLOOR(value / 50) AS BIGINT) AS value_bucket, COUNT(*) AS cnt
FROM events GROUP BY user_id, value_bucket
""",
    doc="Two-dimensional point-cloud aggregate (x, y) -> count.",
)
def f15_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.floor(F.col("value") / 50).cast("long").alias("value_bucket"),
        )
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# F16 — AVG over boolean expression = rate (reference: core/app.py:4505-4508)
# ---------------------------------------------------------------------------


@register(
    "f16_avg_boolean",
    oracle="""
SELECT c_mktsegment AS segment,
       ROUND(AVG(CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END), 4)
         AS fulfillment_rate
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    doc="Acceptance-rate idiom: AVG(CASE WHEN ... 1.0 ELSE 0.0).",
)
def f16_avg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.round(
                F.avg(F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0)), 4
            ).alias("fulfillment_rate")
        )
    )


# ---------------------------------------------------------------------------
# I1 — UNION ALL of two aggregates (reference: core/reports/router.py:623-647)
# ---------------------------------------------------------------------------


@register(
    "i1_union_all_stats",
    oracle="""
SELECT 'click' AS metric, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)
         AS total_value
FROM events WHERE event_type = 'click'
UNION ALL
SELECT 'purchase' AS metric, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)
         AS total_value
FROM events WHERE event_type = 'purchase'
""",
    doc="UNION ALL of two labeled aggregate rows (timing-analysis shape).",
)
def i1_union_all_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")

    def leg(t: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == t)
            .agg(
                F.count("*").alias("n"),
                X.exact_sum(X.dec("value", X.VALUE6), "total_value", scale=6),
            )
            .select(F.lit(t).alias("metric"), "n", "total_value")
        )

    return leg("click").unionByName(leg("purchase"))


# ---------------------------------------------------------------------------
# M1 — audit-trail stats bundle (SURVEY §2.M)
#
# The reference's audit/ops surface (core/audit_logger.py:263-345:
# totals, by-category, top-10 users, success/failure split, last-seen
# leaderboard) is the same F1-F3 shapes over an append-only log; events
# stands in for the audit table. One query returns the whole bundle the
# way the endpoint does: labeled sections unioned into a single frame.
# ---------------------------------------------------------------------------


@register(
    "m1_audit_stats",
    oracle="""
WITH by_cat AS (
  SELECT 'by_category' AS section, event_type AS label,
         COUNT(*) AS n, CAST(NULL AS TIMESTAMP) AS last_seen
  FROM events GROUP BY event_type
), top_users AS (
  SELECT 'top_user' AS section, CAST(user_id AS VARCHAR) AS label,
         COUNT(*) AS n, MAX(ts) AS last_seen
  FROM events GROUP BY user_id
  ORDER BY n DESC, label LIMIT 10
), totals AS (
  SELECT 'total' AS section, 'events' AS label,
         COUNT(*) AS n, MAX(ts) AS last_seen
  FROM events
)
SELECT * FROM totals
UNION ALL SELECT * FROM by_cat
UNION ALL SELECT * FROM top_users
""",
    doc="Audit-log stats bundle: totals + by-category + top-10 actor "
    "leaderboard with last-seen timestamps, one labeled frame "
    "(reference core/audit_logger.py:263-345 shape).",
)
def m1_audit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    totals = e.agg(
        F.lit("total").alias("section"),
        F.lit("events").alias("label"),
        F.count("*").alias("n"),
        F.max("ts").alias("last_seen"),
    ).select("section", "label", "n", "last_seen")
    by_cat = (
        e.groupBy(F.col("event_type").alias("label"))
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("by_category").alias("section"),
            "label",
            "n",
            F.lit(None).cast("timestamp").alias("last_seen"),
        )
    )
    top_users = (
        e.groupBy(F.col("user_id").cast("string").alias("label"))
        .agg(F.count("*").alias("n"), F.max("ts").alias("last_seen"))
        .orderBy(F.desc("n"), F.asc("label"))
        .limit(10)
        .select(F.lit("top_user").alias("section"), "label", "n", "last_seen")
    )
    return totals.unionByName(by_cat).unionByName(top_users)


# ---------------------------------------------------------------------------
# F17 — skew-mitigated aggregation (salting; 100 TB technique)
#
# events has 5 hot event_type keys (~2000 rows each at sf0.01): a naive
# groupBy sends each hot key to one reducer. Salting splits every key
# across N sub-aggregates (stage 1 shuffles on (key, salt)), then a
# cheap stage-2 combine over N rows per key restores exact results —
# the pattern is result-invariant, so the plain GROUP BY is the oracle.
# The salt must be deterministic for the oracle contract: md5 of the
# row's unique id, not rand().
# ---------------------------------------------------------------------------

_N_SALTS = 16


@register(
    "f17_skew_salted_agg",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS DOUBLE)
         AS sum_value
FROM events
GROUP BY event_type
""",
    doc="Salted two-stage aggregation over skewed keys: partial agg on "
    "(key, md5-salt mod 16), combine per key — exact results, hot keys "
    "spread across 16 reducers.",
)
def f17_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    salted = e.withColumn(
        "_salt",
        F.expr(f"cast(conv(substr(md5(cast(event_id as string)), 1, 15), 16, 10) as bigint) % {_N_SALTS}"),
    )
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("pv"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.sum("pv").cast("decimal(38,6)").cast("double").alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# F2b — approx_count_distinct (HLL++): the scalable stand-in for exact
# COUNT(DISTINCT) at 100 TB (SURVEY §2.F note). Sketch internals are
# engine-private, so there is no cross-engine oracle — the driver
# records the weaker rows-only check, by design.
# ---------------------------------------------------------------------------


@register(
    "f2_approx_count_distinct",
    oracle=None,
    doc="approx_count_distinct(user_id) by event_type (HLL++, rsd=0.01) "
    "— the 100 TB stand-in for exact F2; sketches are engine-private, "
    "hence rows-only check.",
)
def f2_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


# ---------------------------------------------------------------------------
# F18 — exact percentiles (median / p95). Not in the reference (SURVEY
# §2.F notes the absence) but table stakes for an analytics engine.
# Spark's percentile() and DuckDB's quantile_cont() share the linear-
# interpolation definition and produce bit-identical doubles on
# identical inputs (verified at sf0.01/sf0.1); at 100 TB the scalable
# variant is percentile_approx (t-digest), which — like the HLL query —
# would be a rows-only check.
# ---------------------------------------------------------------------------


@register(
    "f18_percentiles",
    oracle="""
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS median_price,
       quantile_cont(l_extendedprice, 0.95) AS p95_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Exact median/p95 by group: percentile() vs quantile_cont() "
    "(same linear interpolation, bit-identical); percentile_approx is "
    "the 100 TB stand-in.",
)
def f18_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("median_price"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("p95_price"),
        F.count("*").alias("n"),
    )

# ---------------------------------------------------------------------------
# F19 — rolling time-series metrics over the daily grain
#
# The dashboard trend-line shape: daily counts, a 7-observation rolling
# mean, and day-over-day delta. The rolling window runs over the
# AGGREGATED day series — after the one events shuffle, the series has
# one row per day (bounded by calendar time, not data volume: 100 TB of
# events is still <50k days), so the global ordering is cheap by
# construction. Determinism: the mean divides an exact BIGINT window
# sum by an exact window count (identical integer operands → identical
# doubles); the delta is cast to DOUBLE on both sides so the NULL-first
# row canonicalizes identically (float64 NaN) in both engines.
# ---------------------------------------------------------------------------


@register(
    "f19_rolling_daily",
    oracle="""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS cnt
  FROM events GROUP BY day
)
SELECT day, cnt,
       CAST(SUM(cnt) OVER w7 AS DOUBLE) / COUNT(*) OVER w7 AS avg_7d,
       CAST(cnt - LAG(cnt) OVER (ORDER BY day) AS DOUBLE) AS delta_1d
FROM daily
WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
    doc="Daily counts + 7-observation rolling mean + day-over-day "
    "delta; rolling window over the day grain, never over raw events.",
)
def f19_rolling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(to_day("ts").alias("day"))
        .agg(F.count("*").alias("cnt"))
    )
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    w1 = Window.orderBy("day")
    return daily.select(
        "day",
        "cnt",
        (F.sum("cnt").over(w7).cast("double") / F.count("*").over(w7)).alias("avg_7d"),
        (F.col("cnt") - F.lag("cnt", 1).over(w1)).cast("double").alias("delta_1d"),
    )

# ---------------------------------------------------------------------------
# M2 — key-skew profiler (the diagnostic that justifies F17's salting)
#
# Before salting a hot key you have to find it: per-key cardinality
# stats over the grouping key — max/avg skew factor and the count
# distribution's quantiles. One shuffle (per-key counts, map-side
# combined), then a single-row aggregate. Spark's percentile() and
# DuckDB's quantile_cont() interpolate identically (bit-for-bit,
# verified by f18); every ratio divides identical numeric operands.
# ---------------------------------------------------------------------------


@register(
    "m2_key_skew_profile",
    oracle="""
WITH k AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(MAX(cnt) AS BIGINT) AS max_cnt,
       CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS avg_cnt,
       CAST(MAX(cnt) AS DOUBLE) / (CAST(SUM(cnt) AS DOUBLE) / COUNT(*)) AS skew_factor,
       quantile_cont(cnt, 0.5) AS p50_cnt,
       quantile_cont(cnt, 0.99) AS p99_cnt
FROM k
""",
    doc="Grouping-key skew diagnostics: per-key counts, max/avg skew "
    "factor, p50/p99 of the count distribution — the profile that "
    "decides when F17's salted two-stage aggregation is needed.",
)
def m2_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
    )
    avg_cnt = F.sum("cnt").cast("double") / F.count("*")
    return k.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        avg_cnt.alias("avg_cnt"),
        (F.max("cnt").cast("double") / avg_cnt).alias("skew_factor"),
        F.percentile("cnt", F.lit(0.5)).alias("p50_cnt"),
        F.percentile("cnt", F.lit(0.99)).alias("p99_cnt"),
    )


# ---------------------------------------------------------------------------
# F20 — grouped percentile profile (per-language document-length stats)
#
# The grouped cousin of F18: data-profiling quantiles per category —
# the reference profiles numeric columns per facet the same way it
# does age/income distributions (core/reports/handlers.py:79-137),
# just without SQLite window support; quantile profiling is the OLAP
# idiom for it. One hash-aggregate on a 5-value key; percentile() and
# quantile_cont() interpolate bit-identically (verified by f18).
# ---------------------------------------------------------------------------


@register(
    "f20_length_profile_by_lang",
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS docs,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       quantile_cont(n_chars, 0.25) AS p25_chars,
       quantile_cont(n_chars, 0.5)  AS p50_chars,
       quantile_cont(n_chars, 0.75) AS p75_chars,
       quantile_cont(n_chars, 0.99) AS p99_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang
""",
    doc="Per-language document-length percentile profile (grouped "
    "quantiles: p25/p50/p75/p99 + avg/min/max).",
)
def f20_length_profile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("docs"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.percentile("n_chars", F.lit(0.25)).alias("p25_chars"),
            F.percentile("n_chars", F.lit(0.5)).alias("p50_chars"),
            F.percentile("n_chars", F.lit(0.75)).alias("p75_chars"),
            F.percentile("n_chars", F.lit(0.99)).alias("p99_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


# ---------------------------------------------------------------------------
# F21 — ROLLUP subtotals up the dimension hierarchy
#
# The reference emits fixed two-level report trees (region → nation
# style groupings, e.g. network totals with per-provider breakdowns,
# core/app.py:3328-3388) by running one query per level; ROLLUP is the
# single-pass OLAP operator for the same tree. Spark expands the
# grouping sets before the hash-aggregate — still one shuffle, rows ×
# (levels+1) partial states, no extra pass over the fact table.
# grouping_id bit order (leftmost key = MSB) matches DuckDB GROUPING().
# ---------------------------------------------------------------------------


@register(
    "f21_rollup_revenue",
    oracle="""
SELECT r_name AS region, n_name AS nation,
       CAST(GROUPING(r_name, n_name) AS BIGINT) AS gid,
       COUNT(*) AS order_count,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
            AS DOUBLE) AS revenue
FROM region
JOIN nation   ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders   ON o_custkey = c_custkey
GROUP BY ROLLUP(r_name, n_name)
""",
    doc="ROLLUP(region, nation) revenue subtotals + grand total in one "
    "aggregate pass; GROUPING id distinguishes subtotal rows.",
)
def f21_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"),
                "o_totalprice")
        .rollup("region", "nation")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").alias("order_count"),
            X.exact_sum(X.dec("o_totalprice"), "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# F22 — pivot (long → wide cross-tab)
#
# The reference builds status-by-category cross-tabs with one CASE
# column per status (F5's shape, core/app.py:2934-2974). Spark's
# first-class spelling is groupBy().pivot() with an EXPLICIT value
# list — never the value-discovery overload, which runs an extra
# distinct job over the fact table and makes the output schema
# data-dependent (a schema change at 100 TB because one bad row added
# a status). Compiles to the same single hash-aggregate as F5.
# ---------------------------------------------------------------------------


@register(
    "f22_pivot_status",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS cnt_f,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS cnt_o,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS cnt_p,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                 FILTER (WHERE o_orderstatus = 'O') AS DECIMAL(38,2))
            AS DOUBLE) AS open_revenue
FROM orders
GROUP BY o_orderpriority
""",
    doc="Cross-tab via groupBy().pivot() with an explicit value list "
    "(static schema, no discovery pass).",
)
def f22_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    pivoted = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            # count(*) is rejected inside Pivot; count(lit(1)) is the
            # same aggregate
            F.count(F.lit(1)).alias("cnt"),
            F.sum(X.dec("o_totalprice")).alias("rev"),
        )
    )
    return pivoted.select(
        "priority",
        F.col("F_cnt").cast("bigint").alias("cnt_f"),
        F.col("O_cnt").cast("bigint").alias("cnt_o"),
        F.col("P_cnt").cast("bigint").alias("cnt_p"),
        F.col("O_rev").cast("decimal(38,2)").cast("double").alias("open_revenue"),
    )


# ---------------------------------------------------------------------------
# G1 — inter-event gap statistics (LAG window over a partitioned order)
#
# The sessionizer (s2) consumes per-user gaps; this is the diagnostic
# that picks its gap threshold: LAG over (PARTITION BY user_id ORDER BY
# ts, event_id) — the unique-key tiebreak makes gaps deterministic when
# timestamps collide — then one global stats row. The window shuffles
# once on user_id (hash-partitioned, no global sort); the stats
# aggregate is a single-row reduce.
# ---------------------------------------------------------------------------


@register(
    "g1_event_gap_stats",
    oracle="""
WITH gaps AS (
  SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) AS avg_gap_us,
       quantile_cont(gap_us, 0.5)  AS p50_gap_us,
       quantile_cont(gap_us, 0.95) AS p95_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM gaps
""",
    doc="Per-user inter-event gaps via LAG with (ts, event_id) "
    "tiebreak; global n/avg/p50/p95/max gap stats in microseconds.",
)
def g1_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .withColumn(
            "gap_us",
            epoch_us("ts") - F.lag(epoch_us("ts")).over(w),
        )
    )
    return gaps.agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        (F.sum("gap_us").cast("double") / F.count("gap_us")).alias("avg_gap_us"),
        F.percentile("gap_us", F.lit(0.5)).alias("p50_gap_us"),
        F.percentile("gap_us", F.lit(0.95)).alias("p95_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
    )


# ---------------------------------------------------------------------------
# H2 — per-group top-k (ranked window, two-stage)
#
# F3/D7 are GLOBAL top-k (TakeOrderedAndProject); the reference's
# "top services per provider"-style report slices need top-k WITHIN
# each group (core/reports/handlers.py:140-142 run per facet value).
# Stage 1 aggregates spend per (priority, custkey) — map-side combined,
# one shuffle; stage 2 ranks inside each priority partition and keeps
# k=3. The window sorts only per-group aggregates (|groups×custs|,
# not raw orders), which is what keeps it viable at 100 TB; the rank
# has a total-order tiebreak (spend DESC, custkey ASC).
# ---------------------------------------------------------------------------


@register(
    "h2_topk_per_group",
    oracle="""
WITH spend AS (
  SELECT o_orderpriority AS priority, o_custkey AS custkey,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
              AS DOUBLE) AS spend
  FROM orders
  GROUP BY priority, custkey
), ranked AS (
  SELECT priority, custkey, spend,
         ROW_NUMBER() OVER (PARTITION BY priority
                            ORDER BY spend DESC, custkey) AS rnk
  FROM spend
)
SELECT priority, custkey, spend, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
""",
    doc="Top-3 customers by spend within each order priority: "
    "aggregate-then-rank window with total-order tiebreak.",
)
def h2_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    spend = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(X.exact_sum(X.dec("o_totalprice"), "spend"))
    )
    w = Window.partitionBy("priority").orderBy(F.desc("spend"), F.asc("custkey"))
    return (
        spend.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# F23 — equi-depth histogram (percentile cutpoints, not global ntile)
#
# F12 buckets by fixed width; the equi-depth variant buckets by data
# quantiles. The naive spelling — ntile(10) OVER (ORDER BY value) — is
# a single-partition global sort, a non-starter at 100 TB. The scale
# form: one percentile pass produces 9 cutpoints (tiny, broadcast as
# literals), one map-side pass assigns buckets, one hash-aggregate
# counts. Cutpoints are the same float64 in both engines (percentile ≡
# quantile_cont bit-for-bit), so boundary assignment is identical.
# ---------------------------------------------------------------------------

_EQ_DECILES = [i / 10.0 for i in range(1, 10)]


@register(
    "f23_equidepth_histogram",
    oracle="""
WITH cuts AS (
  SELECT quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS c
  FROM events
), b AS (
  SELECT CAST(
           (CASE WHEN value > c[1] THEN 1 ELSE 0 END) +
           (CASE WHEN value > c[2] THEN 1 ELSE 0 END) +
           (CASE WHEN value > c[3] THEN 1 ELSE 0 END) +
           (CASE WHEN value > c[4] THEN 1 ELSE 0 END) +
           (CASE WHEN value > c[5] THEN 1 ELSE 0 END) +
           (CASE WHEN value > c[6] THEN 1 ELSE 0 END) +
           (CASE WHEN value > c[7] THEN 1 ELSE 0 END) +
           (CASE WHEN value > c[8] THEN 1 ELSE 0 END) +
           (CASE WHEN value > c[9] THEN 1 ELSE 0 END) AS BIGINT) AS decile,
         value
  FROM events CROSS JOIN cuts
  WHERE value IS NOT NULL
)
SELECT decile,
       COUNT(*) AS n,
       CAST(MIN(value) AS DOUBLE) AS lo,
       CAST(MAX(value) AS DOUBLE) AS hi
FROM b GROUP BY decile
""",
    doc="Equi-depth decile histogram: percentile cutpoints broadcast as "
    "literals + map-side bucket assignment — never a global-sort "
    "ntile.",
)
def f23_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # one tiny percentile job -> nine float64 literals (same bits as
    # DuckDB's quantile_cont, so bucket boundaries agree exactly)
    cuts = e.agg(
        F.percentile("value", F.array(*[F.lit(q) for q in _EQ_DECILES]))
    ).first()[0]
    decile = sum(
        (F.col("value") > F.lit(float(c))).cast("int") for c in cuts
    ).cast("bigint")
    return (
        e.groupBy(decile.alias("decile"))
        .agg(
            F.count("*").alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# M3 — Z-order layout key (multi-dimension clustering for scan pruning)
#
# Parquet row-group skipping only helps on columns the file is sorted
# by; sorting by a Morton (Z-order) interleave of two key columns
# preserves locality in BOTH, which is how lakehouse OPTIMIZE ZORDER
# makes (user, day) point lookups skip files. The interleave is pure
# integer bit-math (10 bits of each key), identical in Spark
# (shiftright/&) and DuckDB (>>/&); the query emits per-bucket
# occupancy of the top-8 zkey bits — the file-assignment histogram a
# writer would use to sort rows by this key before writing.
# ---------------------------------------------------------------------------


def _spark_morton(uid: str, day: str, bits: int = 10):
    parts = []
    for i in range(bits):
        parts.append(
            (F.shiftright(F.col(uid), i).bitwiseAND(F.lit(1)))
            .cast("bigint") * F.lit(1 << (2 * i))
        )
        parts.append(
            (F.shiftright(F.col(day), i).bitwiseAND(F.lit(1)))
            .cast("bigint") * F.lit(1 << (2 * i + 1))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out


def _duck_morton(uid: str, day: str, bits: int = 10) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({uid} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({day} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


@register(
    "m3_zorder_layout",
    oracle=f"""
WITH keyed AS (
  SELECT {_duck_morton("(user_id % 1024)", "((epoch_us(ts) // 86400000000) % 1024)")} AS zkey
  FROM events
)
SELECT CAST(zkey >> 12 AS BIGINT) AS bucket,
       COUNT(*) AS n_rows,
       CAST(MIN(zkey) AS BIGINT) AS min_zkey,
       CAST(MAX(zkey) AS BIGINT) AS max_zkey
FROM keyed GROUP BY bucket
""",
    doc="Morton/Z-order interleave of (user_id, day) as a clustering "
    "key + per-bucket occupancy — the layout that lets parquet "
    "row-group stats prune on both dimensions.",
)
def m3_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 1024).alias("uid"),
        # integer div, never a double->int cast (DuckDB rounds, Spark
        # truncates — `div` and `//` are both true floor-toward-zero)
        (
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                " cast(ts as timestamp_ntz)) div 86400000000"
            )
            % 1024
        ).alias("day"),
    )
    keyed = e.select(_spark_morton("uid", "day").alias("zkey"))
    return (
        keyed.groupBy(F.shiftright(F.col("zkey"), 12).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("zkey").cast("bigint").alias("min_zkey"),
            F.max("zkey").cast("bigint").alias("max_zkey"),
        )
    )


# ---------------------------------------------------------------------------
# F24 — CUBE (all grouping combinations in one pass)
#
# ROLLUP (f21) walks one hierarchy; CUBE materializes every subset of
# the grouping keys — the cross-tab-with-margins every BI layer asks
# for. Same Expand + single hash-aggregate physical shape: rows ×
# 2^keys partial states, one shuffle, no per-combination re-scan.
# ---------------------------------------------------------------------------


@register(
    "f24_cube_margins",
    oracle="""
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
            AS DOUBLE) AS revenue
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""",
    doc="CUBE(status, priority) with GROUPING id: every margin of the "
    "cross-tab in one Expand + hash-aggregate pass.",
)
def f24_cube_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "o_totalprice",
        )
        .cube("status", "priority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").alias("n_orders"),
            X.exact_sum(X.dec("o_totalprice"), "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# H3 — shipping-priority top-k (TPC-H Q3 shape)
#
# The classic selective-join-then-rank plan: two date-filtered scans
# (both predicates pushed to parquet), a broadcast of the filtered
# customer segment, revenue aggregate on the join key, global top-10
# via TakeOrderedAndProject. The revenue expression reuses f4's exact
# decimal chain (dec(12,2) × dec(6,4) stays exact).
# ---------------------------------------------------------------------------


@register(
    "h3_shipping_priority",
    oracle="""
SELECT l.l_orderkey AS orderkey,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l.l_discount AS DECIMAL(6,4))))
                 AS DECIMAL(38,6)) AS DOUBLE) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
       o.o_orderpriority AS priority
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, orderkey
LIMIT 10
""",
    doc="TPC-H Q3 shape: segment-filtered broadcast join, pushed date "
    "predicates, revenue aggregate, global top-10 via "
    "TakeOrderedAndProject.",
)
def h3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    rev = X.dec("l_extendedprice") * (F.lit(1) - X.dec("l_discount", X.RATE))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.sum(rev).cast("decimal(38,6)").cast("double").alias("revenue"))
        .select("orderkey", "revenue", "orderdate", "priority")
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# F25 — robust statistics (median / MAD / IQR outlier count)
#
# Mean/stddev (f15's scatter stats) are skew-fragile; the robust set —
# median, median-absolute-deviation, and the Tukey 1.5×IQR outlier
# count — is what a data-quality monitor actually alarms on. Two
# percentile passes (the second over |x − median|, a derived column of
# bit-identical doubles) plus one conditional count; every comparison
# is between identical float64s in both engines, so the outlier count
# is exact, not approximately equal.
# ---------------------------------------------------------------------------


@register(
    "f25_robust_stats",
    oracle="""
WITH q AS (
  SELECT quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.5)  AS med,
         quantile_cont(value, 0.75) AS q3
  FROM events WHERE value IS NOT NULL
), mad AS (
  SELECT quantile_cont(ABS(value - med), 0.5) AS mad
  FROM events CROSS JOIN q WHERE value IS NOT NULL
)
SELECT CAST(med AS DOUBLE) AS median,
       CAST(mad AS DOUBLE) AS mad,
       CAST(q3 - q1 AS DOUBLE) AS iqr,
       CAST((SELECT COUNT(*) FROM events CROSS JOIN q
             WHERE value IS NOT NULL
               AND (value < q1 - 1.5 * (q3 - q1)
                    OR value > q3 + 1.5 * (q3 - q1))) AS BIGINT)
         AS n_outliers
FROM q CROSS JOIN mad
""",
    doc="Robust profile of events.value: median, MAD, IQR, and Tukey "
    "1.5×IQR outlier count — two percentile passes, exact cross-engine.",
)
def f25_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q1, med, q3 = e.agg(
        F.percentile("value", F.lit(0.25)),
        F.percentile("value", F.lit(0.5)),
        F.percentile("value", F.lit(0.75)),
    ).first()
    mad = e.agg(
        F.percentile(F.abs(F.col("value") - F.lit(med)), F.lit(0.5))
    ).first()[0]
    iqr = q3 - q1
    lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
    return e.agg(
        F.lit(med).cast("double").alias("median"),
        F.lit(mad).cast("double").alias("mad"),
        F.lit(iqr).cast("double").alias("iqr"),
        F.sum(
            ((F.col("value") < F.lit(lo)) | (F.col("value") > F.lit(hi))).cast("int")
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# F26 — least-squares trend over the daily series
#
# The trend-detection companion to f19's rolling mean: slope/intercept
# of ordinary least squares fitted to (day_index, daily_count). Both
# coordinates are integers, so Σx, Σy, Σxy, Σx² are BIGINT — exact and
# order-independent — and slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
# divides identical integers in both engines: the fit is bit-exact,
# no regression library involved. Day index is an integer day diff
# from a fixed epoch (never a double cast).
# ---------------------------------------------------------------------------


@register(
    "f26_trend_slope",
    oracle="""
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day_idx, COUNT(*) AS cnt
  FROM events GROUP BY day_idx
), s AS (
  SELECT COUNT(*) AS n,
         SUM(day_idx) AS sx, SUM(cnt) AS sy,
         SUM(day_idx * cnt) AS sxy, SUM(day_idx * day_idx) AS sxx
  FROM daily
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / (n * sxx - sx * sx) AS slope_per_day,
       CAST(sy AS DOUBLE) / n
         - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
           * (CAST(sx AS DOUBLE) / n) AS intercept
FROM s
""",
    doc="OLS slope/intercept of daily event counts over integer day "
    "index — all moments are BIGINT sums, so the fit is bit-exact "
    "across engines.",
)
def f26_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                " cast(ts as timestamp_ntz)) div 86400000000"
            ).alias("day_idx")
        )
        .agg(F.count("*").alias("cnt"))
    )
    s = daily.agg(
        F.count("*").alias("n"),
        F.sum("day_idx").alias("sx"),
        F.sum("cnt").alias("sy"),
        F.sum(F.col("day_idx") * F.col("cnt")).alias("sxy"),
        F.sum(F.col("day_idx") * F.col("day_idx")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den
    return s.select(
        F.col("n").cast("bigint").alias("n_days"),
        slope.alias("slope_per_day"),
        (
            F.col("sy").cast("double") / F.col("n")
            - slope * (F.col("sx").cast("double") / F.col("n"))
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# G2 — batch sessionization (gap-split window → per-session rollup)
#
# The batch twin of the streaming sessionizer (s2): per-user events
# split into sessions wherever the gap exceeds 12h, expressed as the
# classic two-window composition — LAG flags session starts, a running
# SUM over the same (user_id, ts, event_id) order numbers them — then
# one groupBy per session and a bounded histogram rollup. Both windows
# share one hash-partition-by-user_id shuffle (no global sort); the
# per-session aggregate reuses the same partitioning, so the whole
# plan is a single exchange however large the event log is. Durations
# are integer microsecond sums; the mean divides identical BIGINTs.
# ---------------------------------------------------------------------------

_G2_GAP_US = 12 * 3600 * 1_000_000  # 12h session gap (see g1's p50/p75)


@register(
    "g2_session_windows",
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
    doc="Batch sessionization: 12h-gap LAG flag + running-SUM session "
    "numbering over one user_id shuffle, per-session rollup, bounded "
    "session-size histogram.",
)
def g2_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.operators.sessions import (
        assign_sessions,
        session_rollup,
    )

    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", epoch_us("ts").alias("t")
    )
    numbered = assign_sessions(e, "user_id", "t", "event_id", _G2_GAP_US)
    sessions = session_rollup(numbered, "user_id", "t")
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
            (F.sum("dur_us").cast("double") / F.count("*")).alias("avg_dur_us"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# G3 — cumulative distinct-entity growth curve
#
# The "total users over time" dashboard line: each user counts once,
# on the day of their FIRST event, and the curve is the running sum of
# those daily cohort sizes. Two bounded shuffles (argmin per user,
# daily rollup), then — like f19 — the running window runs over the
# aggregated DAY grain, one row per calendar day, so the global
# ordering is cheap at any data volume. A naive COUNT(DISTINCT user)
# per day-prefix would rescan events once per day; this shape scans
# them once, total.
# ---------------------------------------------------------------------------


@register(
    "g3_user_growth",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
), daily AS (
  SELECT strftime(first_ts, '%Y-%m-%d') AS day, COUNT(*) AS new_users
  FROM firsts GROUP BY day
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users
FROM daily
""",
    doc="Cumulative distinct-user growth: first-event day per user, "
    "daily cohort sizes, running total over the day grain — one scan, "
    "never a per-day distinct rescan.",
)
def g3_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    firsts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
    )
    daily = firsts.groupBy(to_day("first_ts").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
    )


# ---------------------------------------------------------------------------
# G4 — activity heatmap (hour-of-day × day-of-week matrix).
# The standard ops-dashboard rollup: two low-cardinality derived keys,
# so the aggregate is one shuffle on a ≤168-cell key space with full
# map-side partial aggregation — the same plan at any corpus size.
# ---------------------------------------------------------------------------


@register(
    "g4_activity_heatmap",
    oracle="""
SELECT CAST(EXTRACT(dow FROM ts) AS INT) AS dow,
       CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
ORDER BY dow, hour
""",
    doc="Hour-of-day × day-of-week activity matrix with per-cell "
    "event and distinct-user counts (dow 0=Sunday, matching DuckDB's "
    "EXTRACT(dow) — Spark's dayofweek is 1-based).",
)
def g4_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("dow", "hour")
    )


# ---------------------------------------------------------------------------
# G5 — rolling 7-day distinct users (exact, via explode-to-window)
#
# Exact distinct counts over sliding windows can't merge from daily
# counts; the scalable exact form materializes the per-(user, day)
# grain once, then fans each user-day into the ≤7 window-ends it
# belongs to — shuffle keys are (window_end, user), never raw events,
# and the fan-out factor is the window length, not the data volume.
# (The approximate path at 100 TB is f2's HLL sketch; this is its
# exact twin.)
# ---------------------------------------------------------------------------


@register(
    "g5_rolling_7d_users",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), expanded AS (
  SELECT user_id, d + to_days(CAST(i AS INT)) AS window_end
  FROM ud CROSS JOIN (SELECT unnest(range(7)) AS i) t
)
SELECT strftime(window_end, '%Y-%m-%d') AS window_end,
       COUNT(DISTINCT user_id) AS users_7d
FROM expanded
GROUP BY window_end
ORDER BY window_end
""",
    doc="Exact rolling 7-day distinct users: per-(user, day) grain "
    "fanned into its window-ends (explode-to-window), one distinct "
    "aggregate on (window_end, user) — never a per-window rescan.",
)
def g5_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    expanded = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("i")).alias("window_end"))
    return (
        expanded.groupBy(F.date_format("window_end", "yyyy-MM-dd").alias("window_end"))
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .orderBy("window_end")
    )


# ---------------------------------------------------------------------------
# F27 — bounded conversion funnel (click → purchase within 7 days)
#
# The windowed-attribution twin of e9's as-of join: every purchase
# looks back at the same user's latest prior click (one carry-forward
# window over the user partition — a single shuffle on user_id) and
# converts only if the gap is within the attribution window. Gap sums
# stay exact BIGINT microseconds; the average divides two identical
# integers on both engines.
# ---------------------------------------------------------------------------

_F27_WINDOW_US = 7 * 86400 * 1_000_000  # 7-day attribution window


@register(
    "f27_bounded_conversion",
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
         MAX(CASE WHEN event_type = 'click'
             THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click_t
  FROM events
), purchases AS (
  SELECT t - last_click_t AS gap_us,
         last_click_t IS NOT NULL AS has_click,
         last_click_t IS NOT NULL
           AND t - last_click_t <= {_F27_WINDOW_US} AS converted
  FROM ordered WHERE event_type = 'purchase'
)
SELECT COUNT(*) AS n_purchases,
       CAST(SUM(CASE WHEN has_click THEN 1 ELSE 0 END) AS BIGINT)
         AS with_prior_click,
       CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
         AS converted_7d,
       CAST(SUM(CASE WHEN converted THEN gap_us END) AS DOUBLE)
         / NULLIF(SUM(CASE WHEN converted THEN 1 ELSE 0 END), 0)
         AS avg_gap_us
FROM purchases
""",
    doc="Bounded attribution funnel: each purchase attributes to the "
    "user's latest prior click via one carry-forward window, counted "
    "as converted only within the 7-day window; exact-integer gap "
    "arithmetic.",
)
def f27_bounded_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", epoch_us("ts").alias("t")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = e.withColumn(
        "last_click_t",
        F.max(F.when(F.col("event_type") == "click", F.col("t"))).over(w),
    )
    p = ordered.filter(F.col("event_type") == "purchase").select(
        (F.col("t") - F.col("last_click_t")).alias("gap_us"),
        F.col("last_click_t").isNotNull().alias("has_click"),
        (
            F.col("last_click_t").isNotNull()
            & ((F.col("t") - F.col("last_click_t")) <= _F27_WINDOW_US)
        ).alias("converted"),
    )
    conv = F.when(F.col("converted"), 1).otherwise(0)
    return p.agg(
        F.count("*").alias("n_purchases"),
        F.sum(F.when(F.col("has_click"), 1).otherwise(0))
        .cast("bigint")
        .alias("with_prior_click"),
        F.sum(conv).cast("bigint").alias("converted_7d"),
        (
            F.sum(F.when(F.col("converted"), F.col("gap_us"))).cast("double")
            / F.nullif(F.sum(conv), F.lit(0))
        ).alias("avg_gap_us"),
    )


# ---------------------------------------------------------------------------
# G6 — DAU / WAU / MAU engagement ratios
#
# The product-analytics staple built on g5's explode-to-window trick at
# three window lengths: per active day, distinct users that day (DAU),
# over the trailing 7 days (WAU) and 30 days (MAU), plus the DAU/MAU
# stickiness ratio. The per-(user, day) grain materializes once and
# feeds all three aggregates; nothing rescans events per window.
# ---------------------------------------------------------------------------


@register(
    "g6_engagement_ratios",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), dau AS (
  SELECT d AS day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY d
), wau AS (
  SELECT d + to_days(CAST(i AS INT)) AS day, COUNT(DISTINCT user_id) AS wau
  FROM ud CROSS JOIN (SELECT unnest(range(7)) AS i) t
  GROUP BY 1
), mau AS (
  SELECT d + to_days(CAST(i AS INT)) AS day, COUNT(DISTINCT user_id) AS mau
  FROM ud CROSS JOIN (SELECT unnest(range(30)) AS i) t
  GROUP BY 1
)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau, wau, mau,
       CAST(dau AS DOUBLE) / mau AS stickiness
FROM dau JOIN wau ON wau.day = dau.day JOIN mau ON mau.day = dau.day
ORDER BY day
""",
    doc="DAU/WAU/MAU + DAU/MAU stickiness per active day: one "
    "(user, day) materialization feeding all three distinct windows "
    "via explode-to-window — never a per-window rescan.",
)
def g6_engagement_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One (user, day) materialization feeds dau + two exploded windows
    # in the returned plan; localCheckpoint blocks free on GC, unlike
    # a CacheManager entry (see x53).
    ud = (
        table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def windowed(n: int, alias: str) -> DataFrame:
        return (
            ud.select(
                "user_id",
                F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("i"),
                "d",
            )
            .select("user_id", F.date_add(F.col("d"), F.col("i")).alias("day"))
            .groupBy("day")
            .agg(F.countDistinct("user_id").alias(alias))
        )

    dau = ud.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    out = (
        dau.join(windowed(7, "wau"), "day")
        .join(windowed(30, "mau"), "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            "mau",
            (F.col("dau").cast("double") / F.col("mau")).alias("stickiness"),
        )
        .orderBy("day")
    )
    return out


# ---------------------------------------------------------------------------
# G7 — event-type transition matrix (first-order Markov counts)
#
# Per-user consecutive event pairs via one LAG over the user partition
# (single shuffle on user_id, same sort c4/g1 reuse), rolled up into
# the (prev, curr) transition matrix with row-normalized probabilities
# — the sequence-analytics staple behind journey/flow diagrams. The
# probability divides two exact counts, so both engines emit identical
# doubles.
# ---------------------------------------------------------------------------


@register(
    "g7_transition_matrix",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS curr_type FROM ordered
  WHERE prev_type IS NOT NULL
), counts AS (
  SELECT prev_type, curr_type, COUNT(*) AS n FROM pairs
  GROUP BY prev_type, curr_type
), totals AS (
  SELECT prev_type, SUM(n) AS row_total FROM counts GROUP BY prev_type
)
SELECT c.prev_type, c.curr_type, c.n AS transitions,
       CAST(c.n AS DOUBLE) / row_total AS probability
FROM counts c JOIN totals USING (prev_type)
ORDER BY prev_type, curr_type
""",
    doc="First-order transition matrix over per-user event sequences: "
    "one LAG pass, (prev, curr) counts, row-normalized probabilities "
    "from exact integer division operands.",
)
def g7_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select("prev_type", F.col("event_type").alias("curr_type"))
    )
    counts = pairs.groupBy("prev_type", "curr_type").agg(F.count("*").alias("n"))
    totals = counts.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        counts.join(totals, "prev_type")
        .select(
            "prev_type",
            "curr_type",
            F.col("n").alias("transitions"),
            (F.col("n").cast("double") / F.col("row_total")).alias("probability"),
        )
        .orderBy("prev_type", "curr_type")
    )


# ---------------------------------------------------------------------------
# H8 — forecast-revenue-change filter+agg (TPC-H Q6 shape)
#
# The pure pushdown benchmark: three scan-level predicates (date year,
# discount band, quantity cap), one exact-decimal product-sum, zero
# joins. At scale the entire query is a filtered columnar scan with
# map-side partial aggregation — the plan every predicate-pushdown
# regression guards.
# ---------------------------------------------------------------------------


@register(
    "h8_forecast_revenue",
    oracle="""
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * CAST(l_discount AS DECIMAL(6,4)))
               AS DECIMAL(38,6)) AS DOUBLE) AS revenue_effect,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    doc="TPC-H Q6 shape: three pushed scan predicates, exact-decimal "
    "discount-revenue sum, no joins — the canonical pushdown+partial-"
    "agg plan.",
)
def h8_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * F.col("l_discount").cast(
        "decimal(6,4)"
    )
    return li.agg(
        F.sum(rev).cast("decimal(38,6)").cast("double").alias("revenue_effect"),
        F.count("*").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# F28 — year-over-year monthly revenue comparison
#
# The BI staple missing between f9 (time buckets) and f26 (trend fit):
# each month's exact-decimal revenue next to the same month one year
# earlier, with absolute and percent deltas. LAG(12) over the month
# series — the month relation is tiny, so the window is a single-task
# sort; the only corpus-scale work is the one month-grain aggregate.
# Percent delta divides two identically-derived doubles.
# ---------------------------------------------------------------------------


@register(
    "f28_yoy_revenue",
    oracle="""
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
              AS DOUBLE) AS revenue
  FROM orders GROUP BY month
), shifted AS (
  SELECT month, revenue,
         LAG(revenue, 12) OVER (ORDER BY month) AS revenue_prior_year
  FROM monthly
)
SELECT month, revenue, revenue_prior_year,
       revenue - revenue_prior_year AS yoy_delta,
       ROUND((revenue - revenue_prior_year) * 100.0
             / NULLIF(revenue_prior_year, 0), 2) AS yoy_pct
FROM shifted
WHERE revenue_prior_year IS NOT NULL
ORDER BY month
""",
    doc="Year-over-year revenue: month-grain exact-decimal totals, "
    "LAG(12) self-alignment, absolute and percent deltas from "
    "identical double operands.",
)
def f28_yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(to_month("o_orderdate").alias("month"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.orderBy("month")
    shifted = monthly.withColumn(
        "revenue_prior_year", F.lag("revenue", 12).over(w)
    ).filter(F.col("revenue_prior_year").isNotNull())
    return shifted.select(
        "month",
        "revenue",
        "revenue_prior_year",
        (F.col("revenue") - F.col("revenue_prior_year")).alias("yoy_delta"),
        F.round(
            (F.col("revenue") - F.col("revenue_prior_year"))
            * 100.0
            / F.nullif(F.col("revenue_prior_year"), F.lit(0.0)),
            2,
        ).alias("yoy_pct"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# F29 — revenue concentration (Pareto / 80-20 analysis)
#
# What share of revenue do the top 10/20/50% of customers carry?
# Per-customer exact-decimal revenue, descending rank, cumulative
# share — then one row per decile threshold. The rank window sorts the
# customer-grain relation (already aggregate-sized), never raw orders;
# shares divide micro-quantized BIGINTs so every engine agrees.
# ---------------------------------------------------------------------------


@register(
    "f29_pareto_revenue",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS rev
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT rev,
         ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rn,
         COUNT(*) OVER () AS n_cust,
         CAST(ROUND(rev * 100) AS BIGINT) AS rev_cents,
         CAST(SUM(CAST(ROUND(rev * 100) AS BIGINT))
              OVER (ORDER BY rev DESC, o_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_cents,
         CAST(SUM(CAST(ROUND(rev * 100) AS BIGINT)) OVER () AS BIGINT)
           AS total_cents
  FROM per_cust
)
SELECT pct.p AS top_pct,
       CAST(MAX(CASE WHEN rn <= n_cust * pct.p / 100 THEN cum_cents END)
            AS DOUBLE) / MAX(total_cents) AS revenue_share,
       CAST(MAX(CASE WHEN rn <= n_cust * pct.p / 100 THEN rn END) AS BIGINT)
         AS n_customers
FROM ranked CROSS JOIN (SELECT unnest([10, 20, 50]) AS p) pct
GROUP BY pct.p
ORDER BY pct.p
""",
    doc="Pareto revenue concentration: per-customer exact-decimal "
    "revenue ranked descending, cumulative cent-quantized share at the "
    "top 10/20/50% customer thresholds (integer rank cutoffs, BIGINT "
    "sums).",
)
def f29_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("decimal(38,2)")
        .alias("rev")
    )
    # The per-customer relation is data-sized: the running sum / rank /
    # grand totals come from the two-phase prefix operator (range
    # repartition + partition-local window + broadcast offsets), not a
    # single-partition global window. Bit-exact: cents are BIGINT.
    cents = per_cust.withColumn(
        "cents", F.round(F.col("rev") * 100).cast("bigint")
    )
    ranked = prefix_rank(
        cents,
        [F.desc("rev"), F.asc("o_custkey")],
        "cents",
        cum_col="cum_cents",
        rn_col="rn",
        total_sum_col="total_cents",
        total_rows_col="n_cust",
        pin_input=True,  # orders scan+agg would run 2x in the sampling pass
    ).select("rn", "n_cust", "cum_cents", "total_cents")
    pct = spark.createDataFrame([(10,), (20,), (50,)], "p int")
    hit = F.when(F.col("rn") <= F.col("n_cust") * F.col("p") / 100, True)
    return (
        ranked.crossJoin(F.broadcast(pct))
        .groupBy(F.col("p").alias("top_pct"))
        .agg(
            (
                F.max(F.when(hit, F.col("cum_cents"))).cast("double")
                / F.max("total_cents")
            ).alias("revenue_share"),
            F.max(F.when(hit, F.col("rn"))).cast("bigint").alias("n_customers"),
        )
        .orderBy("top_pct")
    )


# ---------------------------------------------------------------------------
# F30 — batch drift monitor (PSI-style share comparison)
#
# Ingest monitoring: did the new batch's length distribution drift
# from the reference batch's? Quartile cuts come from the REFERENCE
# half only (f23's exact percentile-literal trick, so both engines
# bucket identically), both halves bucket map-side, and the per-bucket
# shares divide exact integer counts — a population-stability report
# with zero floating-point ambiguity.
# ---------------------------------------------------------------------------

_F30_QS = (0.25, 0.5, 0.75)


@register(
    "f30_drift_monitor",
    oracle=f"""
WITH ref AS (
  SELECT n_chars FROM documents WHERE doc_id % 2 = 0
), new_b AS (
  SELECT n_chars FROM documents WHERE doc_id % 2 = 1
), cuts AS (
  SELECT quantile_cont(n_chars, [{", ".join(str(q) for q in _F30_QS)}]) AS c
  FROM ref
), rb AS (
  SELECT CAST((CASE WHEN n_chars > c[1] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > c[2] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > c[3] THEN 1 ELSE 0 END) AS BIGINT) AS bucket
  FROM ref CROSS JOIN cuts
), nb AS (
  SELECT CAST((CASE WHEN n_chars > c[1] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > c[2] THEN 1 ELSE 0 END)
            + (CASE WHEN n_chars > c[3] THEN 1 ELSE 0 END) AS BIGINT) AS bucket
  FROM new_b CROSS JOIN cuts
), rc AS (
  SELECT bucket, COUNT(*) AS ref_n FROM rb GROUP BY bucket
), nc AS (
  SELECT bucket, COUNT(*) AS new_n FROM nb GROUP BY bucket
), tot AS (
  SELECT (SELECT COUNT(*) FROM rb) AS ref_total,
         (SELECT COUNT(*) FROM nb) AS new_total
)
SELECT rc.bucket,
       ref_n, COALESCE(new_n, 0) AS new_n,
       CAST(ref_n AS DOUBLE) / ref_total AS ref_share,
       CAST(COALESCE(new_n, 0) AS DOUBLE) / new_total AS new_share,
       ABS(CAST(ref_n AS DOUBLE) / ref_total
           - CAST(COALESCE(new_n, 0) AS DOUBLE) / new_total) AS share_drift
FROM rc LEFT JOIN nc USING (bucket) CROSS JOIN tot
ORDER BY rc.bucket
""",
    doc="PSI-style drift monitor: quartile cuts from the reference "
    "batch only (exact percentile literals), both batches bucketed "
    "map-side, per-bucket share deltas from exact integer counts.",
)
def f30_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ref = d.filter(F.col("doc_id") % 2 == 0)
    new_b = d.filter(F.col("doc_id") % 2 == 1)
    cuts = ref.agg(
        F.percentile("n_chars", F.array(*[F.lit(q) for q in _F30_QS]))
    ).first()[0]

    def bucket():
        return sum(
            (F.col("n_chars") > F.lit(float(c))).cast("int") for c in cuts
        ).cast("bigint")

    rc = ref.groupBy(bucket().alias("bucket")).agg(F.count("*").alias("ref_n"))
    nc = new_b.groupBy(bucket().alias("bucket")).agg(F.count("*").alias("new_n"))
    ref_total = ref.count()
    new_total = new_b.count()
    ref_share = F.col("ref_n").cast("double") / F.lit(ref_total)
    new_share = F.coalesce(F.col("new_n"), F.lit(0)).cast("double") / F.lit(
        new_total
    )
    return (
        rc.join(nc, "bucket", "left")
        .select(
            "bucket",
            "ref_n",
            F.coalesce("new_n", F.lit(0)).cast("bigint").alias("new_n"),
            ref_share.alias("ref_share"),
            new_share.alias("new_share"),
            F.abs(ref_share - new_share).alias("share_drift"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# F31 — GROUPING SETS (explicit set list)
#
# ROLLUP (f21) and CUBE (f24) are sugar over GROUPING SETS; the
# explicit form is what warehouses emit when a report wants a custom
# subtotal lattice — here (flag, status), (flag), (status), ():
# per-cell, both one-dimension margins, and the grand total, all in
# one aggregate pass (Spark Expand operator: one scan, four grouping
# streams), never four scans.
# ---------------------------------------------------------------------------


@register(
    "f31_grouping_sets",
    oracle="""
SELECT l_returnflag AS rflag, l_linestatus AS lstatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), (l_linestatus), ())
""",
    doc="Explicit GROUPING SETS lattice — cells, both margins, grand "
    "total in a single Expand+aggregate pass; GROUPING id "
    "distinguishes the four streams.",
)
def f31_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rflag"),
        F.col("l_linestatus").alias("lstatus"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    return li.groupingSets(
        [["rflag", "lstatus"], ["rflag"], ["lstatus"], []],
        "rflag",
        "lstatus",
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count("*").alias("n_items"),
        F.sum("qty").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# M4 — table profiler (ANALYZE-style column statistics)
#
# The ops-side census every warehouse runs before planning: one pass
# over the fact computes nulls/distincts/extremes for every profiled
# column simultaneously (a single wide aggregate), then unpivots to
# the long (column, metric) layout with stack() — never one scan per
# column. Numeric and string extremes ride separate typed columns so
# no cross-engine number→text formatting is involved.
# ---------------------------------------------------------------------------


@register(
    "m4_column_profile",
    oracle="""
WITH s AS (
  SELECT COUNT(*) AS n_rows,
         COUNT(*) - COUNT(o_orderstatus) AS null_status,
         COUNT(DISTINCT o_orderstatus) AS nd_status,
         MIN(o_orderstatus) AS min_status, MAX(o_orderstatus) AS max_status,
         COUNT(*) - COUNT(o_orderpriority) AS null_prio,
         COUNT(DISTINCT o_orderpriority) AS nd_prio,
         MIN(o_orderpriority) AS min_prio, MAX(o_orderpriority) AS max_prio,
         COUNT(*) - COUNT(o_totalprice) AS null_price,
         COUNT(DISTINCT o_totalprice) AS nd_price,
         MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
         COUNT(*) - COUNT(o_orderkey) AS null_key,
         COUNT(DISTINCT o_orderkey) AS nd_key,
         MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
  FROM orders
)
SELECT * FROM (
  SELECT 'o_orderstatus' AS col_name, n_rows, null_status AS n_null,
         nd_status AS n_distinct, CAST(NULL AS DOUBLE) AS min_num,
         CAST(NULL AS DOUBLE) AS max_num,
         min_status AS min_str, max_status AS max_str FROM s
  UNION ALL
  SELECT 'o_orderpriority', n_rows, null_prio, nd_prio,
         CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
         min_prio, max_prio FROM s
  UNION ALL
  SELECT 'o_totalprice', n_rows, null_price, nd_price,
         CAST(min_price AS DOUBLE), CAST(max_price AS DOUBLE),
         NULL, NULL FROM s
  UNION ALL
  SELECT 'o_orderkey', n_rows, null_key, nd_key,
         CAST(min_key AS DOUBLE), CAST(max_key AS DOUBLE),
         NULL, NULL FROM s
) ORDER BY col_name
""",
    doc="ANALYZE-style profiler: one wide aggregate pass computes "
    "nulls/distincts/extremes for four columns, unpivoted to long "
    "(column, metric) rows; typed num/str extreme columns avoid "
    "number-to-text formatting divergence.",
)
def m4_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # Two aggregates instead of one wide one: mixing string MIN/MAX
    # (immutable agg buffers) into the 4-way multi-distinct rewrite
    # forced the WHOLE query onto SortAggregate over the 5×-Expanded
    # rows — two full sorts of 5n wide rows. Split, the extremes pass
    # hash-aggregates the raw rows and the distinct pass hash-
    # aggregates the Expand, and the two 1-row results cross-join for
    # free. Same values, same single-row shape.
    plain = o.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("o_orderstatus")).alias("null_status"),
        F.min("o_orderstatus").alias("min_status"),
        F.max("o_orderstatus").alias("max_status"),
        (F.count("*") - F.count("o_orderpriority")).alias("null_prio"),
        F.min("o_orderpriority").alias("min_prio"),
        F.max("o_orderpriority").alias("max_prio"),
        (F.count("*") - F.count("o_totalprice")).alias("null_price"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        (F.count("*") - F.count("o_orderkey")).alias("null_key"),
        F.min("o_orderkey").cast("double").alias("min_key"),
        F.max("o_orderkey").cast("double").alias("max_key"),
    )
    nd = o.agg(
        F.countDistinct("o_orderstatus").alias("nd_status"),
        F.countDistinct("o_orderpriority").alias("nd_prio"),
        F.countDistinct("o_totalprice").alias("nd_price"),
        F.countDistinct("o_orderkey").alias("nd_key"),
    )
    s = plain.crossJoin(F.broadcast(nd))
    return s.select(
        F.expr(
            """stack(4,
  'o_orderstatus',   n_rows, null_status, nd_status,
      CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min_status, max_status,
  'o_orderpriority', n_rows, null_prio,   nd_prio,
      CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), min_prio,   max_prio,
  'o_totalprice',    n_rows, null_price,  nd_price,
      min_price, max_price, CAST(NULL AS STRING), CAST(NULL AS STRING),
  'o_orderkey',      n_rows, null_key,    nd_key,
      min_key,   max_key,   CAST(NULL AS STRING), CAST(NULL AS STRING)
) AS (col_name, n_rows, n_null, n_distinct,
      min_num, max_num, min_str, max_str)"""
        )
    ).orderBy("col_name")


# ---------------------------------------------------------------------------
# I2 — INTERSECT / EXCEPT set operations (engine-first-class; the
# reference has none — SURVEY §2.I "No INTERSECT/EXCEPT"). Customer
# retention as set algebra: buyers active in both 1995 and 1996,
# only-1995 (churned), only-1996 (acquired). Spark compiles INTERSECT
# and EXCEPT to left-semi/left-anti over the distinct key sets — the
# shuffles carry one bigint column, so the shape is key-cardinality
# bound at any SF.
# ---------------------------------------------------------------------------

_I2_Y1 = ("1995-01-01 00:00:00", "1996-01-01 00:00:00")
_I2_Y2 = ("1996-01-01 00:00:00", "1997-01-01 00:00:00")


@register(
    "i2_set_ops",
    oracle=f"""
WITH y1 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '{_I2_Y1[0]}'
    AND o_orderdate <  TIMESTAMP '{_I2_Y1[1]}'
), y2 AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '{_I2_Y2[0]}'
    AND o_orderdate <  TIMESTAMP '{_I2_Y2[1]}'
)
SELECT 'retained' AS cohort,
       (SELECT COUNT(*) FROM (SELECT * FROM y1 INTERSECT SELECT * FROM y2))
         AS n_customers
UNION ALL
SELECT 'churned',
       (SELECT COUNT(*) FROM (SELECT * FROM y1 EXCEPT SELECT * FROM y2))
UNION ALL
SELECT 'acquired',
       (SELECT COUNT(*) FROM (SELECT * FROM y2 EXCEPT SELECT * FROM y1))
""",
    doc="Set operators INTERSECT/EXCEPT (engine extension; reference "
    "has none): year-over-year buyer retention as set algebra over "
    "distinct custkey sets. Spark plans semi/anti joins on a single "
    "bigint key.",
)
def i2_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")

    def year_keys(lo: str, hi: str) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    y1 = year_keys(*_I2_Y1)
    y2 = year_keys(*_I2_Y2)

    def labeled(label: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_customers")).select(
            F.lit(label).alias("cohort"), "n_customers"
        )

    return (
        labeled("retained", y1.intersect(y2))
        .unionByName(labeled("churned", y1.exceptAll(y2)))
        .unionByName(labeled("acquired", y2.exceptAll(y1)))
    )


# ---------------------------------------------------------------------------
# G8 — NTILE decile segmentation (window-function family).
#
# Customer lifetime spend cut into deciles; per-decile count and
# exact-decimal spend range/total. The customer-grain rollup scales
# with the data, so the tile comes from operators/prefix.py's
# distributed rank (range repartition + broadcast offsets) rather
# than a single-partition NTILE window. The total order (spend,
# custkey) makes tile assignment deterministic in both engines.
# ---------------------------------------------------------------------------


@register(
    "g8_spend_deciles",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
           AS spend
  FROM orders GROUP BY o_custkey
), tiled AS (
  SELECT o_custkey, spend,
         NTILE(10) OVER (ORDER BY spend, o_custkey) AS decile
  FROM spend
)
SELECT decile,
       COUNT(*) AS n_customers,
       CAST(MIN(spend) AS DOUBLE) AS min_spend,
       CAST(MAX(spend) AS DOUBLE) AS max_spend,
       CAST(CAST(SUM(spend) AS DECIMAL(38,2)) AS DOUBLE) AS total_spend
FROM tiled GROUP BY decile ORDER BY decile
""",
    doc="NTILE(10) decile segmentation of customer lifetime spend "
    "(window family, engine extension). Spend stays in exact DECIMAL "
    "through the window and the decile rollup; ties broken by "
    "custkey so tile membership is engine-independent.",
)
def g8_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = o.groupBy("o_custkey").agg(
        F.sum(X.dec("o_totalprice")).cast("decimal(38,2)").alias("spend")
    )
    # NTILE over a data-sized relation: derive the tile from a
    # distributed global rank + total count (prefix_rank) instead of a
    # single-partition NTILE window — same standard tile-size formula
    # both engines implement, exact integer arithmetic.
    ranked = prefix_rank(
        spend,
        [F.asc("spend"), F.asc("o_custkey")],
        rn_col="rn",
        total_rows_col="n_total",
        pin_input=True,  # orders scan+agg would run 2x in the sampling pass
    )
    tiled = ranked.withColumn(
        "decile", ntile_from_rank(F.col("rn"), F.col("n_total"), 10)
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("spend").cast("double").alias("min_spend"),
            F.max("spend").cast("double").alias("max_spend"),
            F.sum("spend").cast("decimal(38,2)").cast("double").alias("total_spend"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# G9 — per-group percent_rank (window family, partitioned = scale-safe)
#
# Spend percentile of every customer WITHIN their nation, rolled up to
# the per-nation top-decile segment. Unlike f29/g8 (global order →
# prefix operator), this window partitions on nation: each partition
# is one nation's customers, so the sort parallelizes across groups at
# any scale — the canonical "windows are fine when partitioned" shape,
# documented here as the counterpoint to operators/prefix.py.
# percent_rank = (rank-1)/(N-1) over the total order (spend, custkey):
# identical rational arithmetic in both engines.
# ---------------------------------------------------------------------------


@register(
    "g9_group_percent_rank",
    oracle="""
WITH spend AS (
  SELECT c.c_nationkey, o.o_custkey,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
           AS spend
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey, o.o_custkey
), pr AS (
  SELECT c_nationkey, o_custkey, spend,
         PERCENT_RANK() OVER (PARTITION BY c_nationkey
                              ORDER BY spend, o_custkey) AS prk
  FROM spend
)
SELECT n.n_name AS nation,
       COUNT(*) AS n_customers,
       CAST(SUM(CASE WHEN prk >= 0.9 THEN 1 ELSE 0 END) AS BIGINT)
         AS top_decile_customers,
       CAST(CAST(SUM(CASE WHEN prk >= 0.9 THEN spend END)
                 AS DECIMAL(38,2)) AS DOUBLE) AS top_decile_spend
FROM pr JOIN nation n ON pr.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
""",
    doc="PERCENT_RANK of customer lifetime spend within each nation, "
    "rolled up to the per-nation top-decile count and exact-decimal "
    "spend. Partitioned window — parallel across nations at any "
    "scale.",
)
def g9_group_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    spend = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum(X.dec("o_totalprice")).cast("decimal(38,2)").alias("spend"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("spend", "o_custkey")
    pr = spend.withColumn("prk", F.percent_rank().over(w))
    top = F.col("prk") >= 0.9
    return (
        pr.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.when(top, 1).otherwise(0))
            .cast("bigint")
            .alias("top_decile_customers"),
            F.sum(F.when(top, F.col("spend")))
            .cast("decimal(38,2)")
            .cast("double")
            .alias("top_decile_spend"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# M5 — join-key skew audit (ops family; the input to salting decisions)
#
# e11 FIXES skew once you know the hot keys; this MEASURES it: per
# candidate join key of the biggest fact table, the cardinality, the
# heaviest key's row count, and the max/mean ratio ("skew factor" —
# how much longer the hottest shuffle task runs than the average). An
# operator a data platform runs before choosing partitioning/salting,
# not after the job dies. One aggregate pass per key column; only
# (key, count) pairs shuffle.
# ---------------------------------------------------------------------------

_M5_KEYS = ("l_orderkey", "l_suppkey", "l_partkey")


@register(
    "m5_join_key_skew_audit",
    oracle="""
{}
ORDER BY key_col
""".format(
        "\nUNION ALL\n".join(
            f"""SELECT '{k}' AS key_col,
       COUNT(*) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(MAX(cnt) AS BIGINT) AS max_key_rows,
       ROUND(MAX(cnt) * COUNT(*) / CAST(SUM(cnt) AS DOUBLE), 4)
         AS skew_factor
FROM (SELECT {k}, COUNT(*) AS cnt FROM lineitem GROUP BY {k})"""
            for k in _M5_KEYS
        )
    ),
    doc="Join-key skew audit over lineitem's three join keys: distinct "
    "keys, heaviest key's rows, and max/mean skew factor — the "
    "measurement that decides broadcast vs salting (e11) vs plain "
    "shuffle before a production join is laid out.",
)
def m5_join_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(*_M5_KEYS)
    parts = []
    for k in _M5_KEYS:
        per_key = li.groupBy(k).agg(F.count("*").alias("cnt"))
        parts.append(
            per_key.agg(
                F.lit(k).alias("key_col"),
                F.count("*").alias("n_keys"),
                F.sum("cnt").cast("bigint").alias("n_rows"),
                F.max("cnt").cast("bigint").alias("max_key_rows"),
                F.round(
                    F.max("cnt") * F.count("*") / F.sum("cnt").cast("double"),
                    4,
                ).alias("skew_factor"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("key_col")


# ---------------------------------------------------------------------------
# G10 — activity streaks (gaps-and-islands, window family)
#
# Longest run of CONSECUTIVE active days per user — the canonical
# gaps-and-islands shape (day − row_number() is constant within an
# unbroken run). Both windows partition on user_id, so every sort is
# per-user-local and the operator parallelizes across users at any
# scale; only (user, day) pairs shuffle (the DISTINCT collapses the
# raw event volume map-side first). All arithmetic is integer
# (date − rank-day anchor, COUNT), so the cross-engine hash is exact.
# ---------------------------------------------------------------------------


@register(
    "g10_activity_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), isl AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                    AS INT) AS anchor
  FROM days
), streaks AS (
  SELECT user_id, anchor, COUNT(*) AS len
  FROM isl GROUP BY user_id, anchor
)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       COUNT(*) AS n_streaks,
       CAST(MAX(len) AS BIGINT) AS longest_streak
FROM streaks
GROUP BY user_id
ORDER BY longest_streak DESC, user_id
""",
    doc="Gaps-and-islands: longest consecutive-active-day streak per "
    "user via the day-minus-row_number anchor trick; user-partitioned "
    "windows (scale-safe), integer arithmetic end-to-end.",
)
def g10_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.withColumn(
        "anchor", F.date_sub(F.col("day"), F.row_number().over(w).cast("int"))
    )
    streaks = isl.groupBy("user_id", "anchor").agg(F.count("*").alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.sum("len").cast("bigint").alias("n_active_days"),
            F.count("*").alias("n_streaks"),
            F.max("len").cast("bigint").alias("longest_streak"),
        )
        .orderBy(F.desc("longest_streak"), F.asc("user_id"))
    )


# ---------------------------------------------------------------------------
# F32 — strictly-ordered multi-step funnel (chained argmin)
#
# The product-analytics staple f11/e4 do NOT express: a user counts at
# step N only if step N's event happened strictly AFTER their step-N−1
# entry time. Each stage is "earliest qualifying event per user given
# the previous stage's timestamp" — a per-user aggregate joined back
# into the next stage's filter, never a window over the raw stream.
# Timestamps compare as raw NTZ microseconds (identical total order in
# both engines); the only doubles are the final conversion ratios.
#
# Scale shape: three user_id hash aggregates, each input pre-filtered
# to one event type at the scan (pushed predicate), and two shuffle
# joins on user_id — the per-user stage relations are 1 row/user, so
# every join is a co-partitioned key join, no fan-out anywhere.
# ---------------------------------------------------------------------------

_F32_STEPS = ("view", "click", "purchase")


@register(
    "f32_ordered_funnel",
    oracle=f"""
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = '{_F32_STEPS[0]}' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = '{_F32_STEPS[1]}' AND e.ts > t1.t1
  GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = '{_F32_STEPS[2]}' AND e.ts > t2.t2
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
       (SELECT COUNT(*) FROM t1) AS step1_view,
       (SELECT COUNT(*) FROM t2) AS step2_click,
       (SELECT COUNT(*) FROM t3) AS step3_purchase,
       CAST((SELECT COUNT(*) FROM t2) AS DOUBLE)
         / NULLIF((SELECT COUNT(*) FROM t1), 0) AS conv_1_to_2,
       CAST((SELECT COUNT(*) FROM t3) AS DOUBLE)
         / NULLIF((SELECT COUNT(*) FROM t2), 0) AS conv_2_to_3
""",
    doc="Strictly-ordered view->click->purchase funnel: each step is "
    "the earliest qualifying event AFTER the user's previous-step "
    "time (chained per-user argmin + co-partitioned joins), with "
    "stage conversion ratios — the ordering-aware counterpart of the "
    "distinct-count funnels f11/e4.",
)
def f32_ordered_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    t1 = (
        e.filter(F.col("event_type") == _F32_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        e.filter(F.col("event_type") == _F32_STEPS[1])
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        e.filter(F.col("event_type") == _F32_STEPS[2])
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    # all five inputs are single-row aggregates → broadcast-scalar joins
    return (
        e.agg(F.countDistinct("user_id").alias("n_users"))
        .crossJoin(t1.agg(F.count("*").alias("step1_view")))
        .crossJoin(t2.agg(F.count("*").alias("step2_click")))
        .crossJoin(t3.agg(F.count("*").alias("step3_purchase")))
        .select(
            "n_users",
            "step1_view",
            "step2_click",
            "step3_purchase",
            (
                F.col("step2_click").cast("double")
                / F.nullif(F.col("step1_view"), F.lit(0))
            ).alias("conv_1_to_2"),
            (
                F.col("step3_purchase").cast("double")
                / F.nullif(F.col("step2_click"), F.lit(0))
            ).alias("conv_2_to_3"),
        )
    )


# ---------------------------------------------------------------------------
# M6 — declarative constraint audit (Deequ-style expectation suite)
#
# The reference logs per-row quality issues at ingest (C6); at warehouse
# scale the complementary operator is a declarative constraint sweep
# over the LANDED tables: PK uniqueness, FK referential integrity,
# completeness, and domain/range expectations, one verdict row per
# constraint. Each check is a count of violations — exact integers, so
# the report is canon-stable.
#
# Scale shape: one aggregate or one anti-join per constraint, each over
# a single table scan with only the checked columns read; FK checks
# anti-join the fact's key against the PK side (broadcast when the PK
# side is a dimension). The UNION ALL is of 1-row relations.
# ---------------------------------------------------------------------------


@register(
    "m6_constraint_audit",
    oracle="""
SELECT * FROM (
  SELECT 'orders_pk_unique' AS constraint_name,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'orders_custkey_complete',
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders_fk_customer',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'lineitem_fk_orders',
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'lineitem_discount_range',
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'events_type_domain',
         CAST(SUM(CASE WHEN event_type NOT IN
                       ('click','view','signup','purchase','error')
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
)
ORDER BY constraint_name
""",
    doc="Deequ-style declarative expectation suite over the landed "
    "warehouse: PK uniqueness, FK orphan anti-joins (broadcast dim "
    "side), completeness, and domain/range checks — one exact "
    "violation count per constraint.",
)
def m6_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    c = table(spark, sf_dir, "customer")
    ev = table(spark, sf_dir, "events")

    def verdict(name: str, count_col) -> DataFrame:
        src, agg = count_col
        return src.agg(
            F.lit(name).alias("constraint_name"),
            agg.cast("bigint").alias("n_violations"),
        )

    checks = [
        verdict(
            "orders_pk_unique",
            (o, F.count("*") - F.countDistinct("o_orderkey")),
        ),
        verdict(
            "orders_custkey_complete",
            (o, F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))),
        ),
        # FK orphans: anti-join against the (broadcastable) dimension PK
        o.join(
            F.broadcast(c.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        ).agg(
            F.lit("orders_fk_customer").alias("constraint_name"),
            F.count("*").cast("bigint").alias("n_violations"),
        ),
        # fact-fact FK: shuffle anti-join on the shared key
        li.join(
            o.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        ).agg(
            F.lit("lineitem_fk_orders").alias("constraint_name"),
            F.count("*").cast("bigint").alias("n_violations"),
        ),
        verdict(
            "lineitem_discount_range",
            (
                li,
                F.sum(
                    F.when(
                        (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1
                    ).otherwise(0)
                ),
            ),
        ),
        verdict(
            "events_type_domain",
            (
                ev,
                F.sum(
                    F.when(
                        ~F.col("event_type").isin(
                            "click", "view", "signup", "purchase", "error"
                        ),
                        1,
                    ).otherwise(0)
                ),
            ),
        ),
    ]
    out = checks[0]
    for chk in checks[1:]:
        out = out.unionAll(chk)
    return out.orderBy("constraint_name")


# ---------------------------------------------------------------------------
# F33 — A/B experiment readout (two-proportion z-test)
#
# The statistical-testing family: users hash into arms A/B (md5 —
# x15's split convention), success = the user ever purchased; the
# readout is each arm's conversion and the two-proportion z-score
# under the pooled rate. Counts are exact integers; the z formula is
# sqrt/division over identical doubles in both engines, and the score
# is 6dp-rounded (the one libm sqrt agrees to 1 ulp; rounding
# collapses it). One events scan, one per-user aggregate, a 2-row arm
# rollup, and a 1-row final join — scale-free beyond the first scan.
# ---------------------------------------------------------------------------


@register(
    "f33_ab_test",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), per_user AS (
  SELECT user_id,
         CASE WHEN {h} % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
         MAX(CASE WHEN event_type = 'purchase' AND rn <= 5
                  THEN 1 ELSE 0 END) AS converted
  FROM ordered GROUP BY user_id
), arms AS (
  SELECT arm, COUNT(*) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS conversions,
         CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS conv_rate
  FROM per_user GROUP BY arm
), z AS (
  SELECT a.conv_rate - b.conv_rate AS diff,
         (a.conversions + b.conversions)
           / CAST(a.n_users + b.n_users AS DOUBLE) AS pooled,
         a.n_users AS na, b.n_users AS nb
  FROM (SELECT * FROM arms WHERE arm = 'A') a
  CROSS JOIN (SELECT * FROM arms WHERE arm = 'B') b
)
SELECT arms.arm AS arm, arms.n_users, arms.conversions, arms.conv_rate,
       ROUND(z.diff / NULLIF(sqrt(z.pooled * (1 - z.pooled)
                                  * (1.0 / z.na + 1.0 / z.nb)), 0), 6)
         AS z_score
FROM arms CROSS JOIN z
ORDER BY arm
""".format(
        h=__import__(
            "calaveras_uniteus_etl_spark.functions.hashing",
            fromlist=["duckdb_md5_long_sql"],
        ).duckdb_md5_long_sql("'ab:' || CAST(user_id AS VARCHAR)")
    ),
    doc="Two-proportion z-test readout: md5 arm assignment, per-arm "
    "activation (purchase within the user's first 5 events — a "
    "variance-rich success metric), pooled-rate z-score 6dp-rounded, "
    "NULL on a degenerate pooled rate — the experimentation primitive "
    "over the events stream.",
)
def f33_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.functions.hashing import md5_long

    e = table(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id").orderBy("ts", "event_id")
    per_user = (
        e.withColumn("rn", F.row_number().over(w_first))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("rn") <= 5), 1
                ).otherwise(0)
            ).alias("converted")
        )
        .withColumn(
            "arm",
            F.when(
                F.pmod(
                    md5_long(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
                    F.lit(2),
                )
                == 0,
                "A",
            ).otherwise("B"),
        )
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("bigint").alias("conversions"),
        (F.sum("converted").cast("double") / F.count("*")).alias("conv_rate"),
    )
    a = arms.filter(F.col("arm") == "A").select(
        F.col("conv_rate").alias("ra"),
        F.col("conversions").alias("ca"),
        F.col("n_users").alias("na"),
    )
    b = arms.filter(F.col("arm") == "B").select(
        F.col("conv_rate").alias("rb"),
        F.col("conversions").alias("cb"),
        F.col("n_users").alias("nb"),
    )
    z = (
        a.crossJoin(b)  # 1-row × 1-row scalars
        .select(
            (F.col("ra") - F.col("rb")).alias("diff"),
            (
                (F.col("ca") + F.col("cb"))
                / (F.col("na") + F.col("nb")).cast("double")
            ).alias("pooled"),
            "na",
            "nb",
        )
        .select(
            F.round(
                F.col("diff")
                / F.nullif(  # degenerate pooled rate (0 or 1) -> NULL z
                    F.sqrt(
                        F.col("pooled")
                        * (1 - F.col("pooled"))
                        * (1.0 / F.col("na") + 1.0 / F.col("nb"))
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("z_score")
        )
    )
    return arms.crossJoin(F.broadcast(z)).select(
        "arm", "n_users", "conversions", "conv_rate", "z_score"
    ).orderBy("arm")


# ---------------------------------------------------------------------------
# F34 — chi-square independence test (lang × source contingency)
#
# Is document language independent of ingest source? Pearson χ² over
# the full R×C contingency grid — including the zero-observed cells,
# which still contribute their expected mass (the classic bug in
# groupBy-only implementations is dropping them). Observed counts and
# marginals are exact BIGINTs; each cell's expected value is one IEEE
# division of exact ints, the (O−E)²/E contribution is two more IEEE
# ops on identical doubles, and the cross-cell sum goes through the
# 6dp-decimal quantize-then-exact-sum trick (plans/_exact.py) so the
# order-dependent double summation never happens. Scale shape: one
# documents scan fans into three tiny aggregates (cells, row totals,
# col totals — all bounded by |langs|×|sources|, a constant); the grid
# completion is a broadcast cross join of two dim-sized distinct
# lists. Reference analogue: demographic crosstab reports
# (core/reports/handlers.py crosstab family).
# ---------------------------------------------------------------------------


@register(
    "f34_chi_square",
    oracle="""
WITH obs AS (
  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source
), rows_t AS (
  SELECT lang, COUNT(*) AS rt FROM documents GROUP BY lang
), cols_t AS (
  SELECT source, COUNT(*) AS ct FROM documents GROUP BY source
), n AS (
  SELECT COUNT(*) AS n FROM documents
), grid AS (
  SELECT r.lang, c.source, r.rt, c.ct,
         COALESCE(o.o, 0) AS o,
         CAST(r.rt * c.ct AS DOUBLE) / (SELECT n FROM n) AS e
  FROM rows_t r
  CROSS JOIN cols_t c
  LEFT JOIN obs o ON o.lang = r.lang AND o.source = c.source
)
SELECT (SELECT n FROM n) AS n_docs,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST((COUNT(DISTINCT lang) - 1) * (COUNT(DISTINCT source) - 1)
            AS BIGINT) AS dof,
       CAST(SUM(CAST(ROUND((o - e) * (o - e) / e, 6) AS DECIMAL(38,6)))
            AS DOUBLE) AS chi2
FROM grid
""",
    doc="Pearson chi-square independence of lang × source: full-grid "
    "contingency (zero cells included via dim cross join), exact "
    "integer marginals, per-cell (O-E)^2/E on identical IEEE doubles, "
    "6dp-decimal exact cross-cell sum.",
)
def f34_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rows_t = d.groupBy("lang").agg(F.count("*").alias("rt"))
    cols_t = d.groupBy("source").agg(F.count("*").alias("ct"))
    n = d.agg(F.count("*").alias("n"))
    # Full R×C grid: both marginals are constant-sized dims -> the
    # cross join and both joins below are broadcast by construction.
    grid = (
        rows_t.crossJoin(F.broadcast(cols_t))
        .join(F.broadcast(obs), ["lang", "source"], "left")
        .crossJoin(F.broadcast(n))  # 1-row scalar
        .select(
            "lang",
            "source",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            ((F.col("rt") * F.col("ct")).cast("double") / F.col("n")).alias("e"),
            "n",
        )
    )
    contrib = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    return grid.agg(
        F.max("n").alias("n_docs"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        (
            (F.count_distinct("lang") - 1) * (F.count_distinct("source") - 1)
        ).cast("bigint").alias("dof"),
        F.sum(F.round(contrib, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("chi2"),
    )


# ---------------------------------------------------------------------------
# F35 — Gini coefficient of revenue concentration
#
# The single-number companion to f29's Pareto table: Gini over
# per-customer revenue via the rank formula on ascending order,
# G = 2·Σ(i·x_i) / (n·Σx_i) − (n+1)/n. The per-customer relation is
# data-sized, so the global rank comes from the two-phase prefix
# operator (operators/prefix.py) — range repartition, partition-local
# row_number, broadcast offsets — never a single-partition window.
# Arithmetic: cents are BIGINT, the rank-weighted sum Σ(i·x_i) runs in
# DECIMAL(38,0) (exact at any scale; BIGINT would overflow ~10⁶
# customers × 10⁹ cents × 10⁶ rank), and the final two divisions are
# IEEE ops on identically-rounded decimal→double casts, 9dp-rounded.
# ---------------------------------------------------------------------------


@register(
    "f35_gini_revenue",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS rev
  FROM orders GROUP BY o_custkey
), cents AS (
  SELECT o_custkey, rev,
         CAST(ROUND(rev * 100) AS BIGINT) AS cents
  FROM per_cust
), ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS DECIMAL(38,0))
           AS rn,
         cents
  FROM cents
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(cents) AS DECIMAL(38,0)) AS total_cents,
         CAST(SUM(rn * cents) AS DECIMAL(38,0)) AS weighted
  FROM ranked
)
SELECT n_customers,
       CAST(total_cents AS DOUBLE) / 100 AS total_revenue,
       ROUND(CAST(2 * weighted AS DOUBLE)
               / CAST(n_customers * total_cents AS DOUBLE)
             - CAST(n_customers + 1 AS DOUBLE) / n_customers, 9) AS gini
FROM sums
""",
    doc="Gini coefficient of per-customer revenue: ascending global "
    "rank from the distributed prefix operator, DECIMAL(38,0) "
    "rank-weighted sum, G = 2*sum(i*x)/(n*sum(x)) - (n+1)/n with "
    "9dp-rounded IEEE divisions over exact operands.",
)
def f35_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
        .cast("decimal(38,2)")
        .alias("rev")
    )
    cents = per_cust.withColumn(
        "cents", F.round(F.col("rev") * 100).cast("bigint")
    )
    ranked = prefix_rank(
        cents,
        [F.asc("rev"), F.asc("o_custkey")],
        rn_col="rn",
        pin_input=True,  # orders scan+agg would run 2x in the sampling pass
    ).select(F.col("rn").cast("decimal(38,0)").alias("rn"), "cents")
    sums = ranked.agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("cents").cast("decimal(38,0)").alias("total_cents"),
        F.sum(F.col("rn") * F.col("cents")).cast("decimal(38,0)")
        .alias("weighted"),
    )
    return sums.select(
        "n_customers",
        (F.col("total_cents").cast("double") / 100).alias("total_revenue"),
        F.round(
            (F.lit(2) * F.col("weighted")).cast("double")
            / (F.col("n_customers") * F.col("total_cents")).cast("double")
            - (F.col("n_customers") + 1).cast("double") / F.col("n_customers"),
            9,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# G11 — robust anomaly flags (median/MAD z-scores on daily series)
#
# Ops-monitoring primitive: which (event_type, day) counts are
# anomalous relative to that type's own distribution? Mean/stddev
# break under the very outliers being hunted, so the score is the
# robust z: (x − median) / (1.4826·MAD). Exact medians — Spark's
# `percentile` and DuckDB's `median` both interpolate the middle pair,
# and on integer counts that midpoint is an exact binary fraction, so
# the doubles agree bitwise; MAD repeats the trick on |x − med| (exact
# halves). Scale shape: the daily grid is date×type-grain (bounded,
# never data-sized), per-type medians are a dim-sized aggregate
# broadcast back, and the top-20 readout compiles to
# TakeOrderedAndProject. No window over a data-sized relation.
# ---------------------------------------------------------------------------


@register(
    "g11_anomaly_flags",
    oracle="""
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), med AS (
  SELECT event_type, median(cnt) AS med FROM daily GROUP BY event_type
), dev AS (
  SELECT d.event_type, d.day, d.cnt, m.med,
         ABS(d.cnt - m.med) AS adev
  FROM daily d JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
), scored AS (
  SELECT d.event_type, d.day, d.cnt, d.med, m.mad,
         ROUND((d.cnt - d.med) / NULLIF(1.4826 * m.mad, 0), 6) AS robust_z
  FROM dev d JOIN mad m USING (event_type)
)
SELECT event_type, day, cnt, med, mad, robust_z,
       CASE WHEN ABS(robust_z) > 3 THEN TRUE ELSE FALSE END AS is_anomaly
FROM scored
ORDER BY ABS(robust_z) DESC, event_type, day
LIMIT 20
""",
    doc="Robust daily anomaly detection: per-type exact median and "
    "MAD (both interpolated midpoints of integer counts -> bit-equal "
    "doubles), robust z = (x-med)/(1.4826*MAD), 3-sigma flag, "
    "deterministic top-20 by |z|.",
)
def g11_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", to_day("ts").alias("day")
    ).agg(F.count("*").alias("cnt"))
    med = daily.groupBy("event_type").agg(
        F.expr("percentile(cnt, 0.5)").alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cnt") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    scored = dev.join(F.broadcast(mad), "event_type").withColumn(
        "robust_z",
        F.round(
            (F.col("cnt") - F.col("med"))
            / F.nullif(F.lit(1.4826) * F.col("mad"), F.lit(0.0)),
            6,
        ),
    )
    return (
        scored.select(
            "event_type",
            "day",
            "cnt",
            "med",
            "mad",
            "robust_z",
            (F.abs("robust_z") > 3).alias("is_anomaly"),
        )
        .orderBy(F.abs("robust_z").desc(), "event_type", "day")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# M7 — file-compaction planner (offset bin-packing per source)
#
# The small-files problem at 100 TB: ingest lands millions of tiny
# objects; the warehouse wants ~fixed-size shards per source. The
# planner assigns each document to shard = floor(exclusive_byte_offset
# / target) within its source — contiguous in (source, doc_id) order,
# so a later compaction job can stream each shard sequentially. The
# per-source running offset is the scale trap: a window partitioned by
# source still funnels each source's full doc list through one task.
# Instead: ONE global prefix sum over (source, doc_id) order via the
# distributed prefix operator, minus each source's preceding-sources
# total — per-source totals are a source-grain aggregate (constant
# sized), cumulated with a tiny window and broadcast back. Exactly the
# same bytes, fully parallel at any corpus size. All arithmetic is
# BIGINT; the readout is shard-grain (bounded by corpus/target).
# ---------------------------------------------------------------------------

_M7_TARGET = 64_000  # bytes per shard (chars ~ bytes in testdata)


@register(
    "m7_compaction_plan",
    oracle=f"""
WITH offs AS (
  SELECT source, doc_id, n_chars,
         CAST(COALESCE(SUM(n_chars) OVER (
            PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS byte_off
  FROM documents
)
SELECT source,
       CAST(byte_off // {_M7_TARGET} AS BIGINT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS shard_bytes,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM offs
GROUP BY source, shard
ORDER BY source, shard
""",
    doc="Compaction planner: per-source exclusive byte offsets assign "
    "docs to fixed-size contiguous shards. Offsets come from ONE "
    "global distributed prefix sum minus broadcast per-source bases — "
    "no per-source single-task window at any corpus size.",
)
def m7_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    # global inclusive prefix over the total (source, doc_id) order
    g = prefix_rank(
        d,
        [F.asc("source"), F.asc("doc_id")],
        "n_chars",
        cum_col="g_cum",
    )
    # Preceding-sources base offsets straight off the prefix output:
    # each source's first row carries g_cum - n_chars = bytes before
    # the source, so MIN per source is the base. Deriving it from g
    # (a checkpoint-leaf consumer) avoids re-scanning documents and
    # re-running a source rollup on the raw relation.
    bases = g.groupBy("source").agg(
        F.min(F.col("g_cum") - F.col("n_chars")).alias("base")
    )
    offs = g.join(F.broadcast(bases), "source").select(
        "source",
        "doc_id",
        "n_chars",
        # exclusive per-source offset = inclusive global - own - base
        (F.col("g_cum") - F.col("n_chars") - F.col("base"))
        .cast("bigint")
        .alias("byte_off"),
    )
    return (
        offs.groupBy(
            "source",
            F.floor(F.col("byte_off") / _M7_TARGET).cast("bigint").alias("shard"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "shard")
    )


# ---------------------------------------------------------------------------
# F36 — day-of-week seasonality profile
#
# The calendar decomposition behind capacity planning and anomaly
# baselines: how much does each event type's volume swing by weekday?
# Weekday index is computed engine-neutrally as (days_since_epoch + 3)
# mod 7 (0 = Monday; 1970-01-01 was a Thursday) — never from locale- or
# convention-dependent dayofweek()/strftime('%w'). The seasonality
# index divides two exact-integer averages (per-dow daily mean over
# overall daily mean), one IEEE division each, 6dp-rounded. Everything
# is date-grain: the daily rollup is the only data-sized pass.
# ---------------------------------------------------------------------------


@register(
    "f36_dow_seasonality",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), tagged AS (
  SELECT event_type, day, cnt,
         CAST((day - DATE '1970-01-01' + 3) % 7 AS BIGINT) AS dow
  FROM daily
), overall AS (
  SELECT event_type,
         CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS overall_avg
  FROM tagged GROUP BY event_type
)
SELECT t.event_type, t.dow,
       COUNT(*) AS n_days,
       CAST(SUM(t.cnt) AS BIGINT) AS total_events,
       ROUND(CAST(SUM(t.cnt) AS DOUBLE) / COUNT(*), 6) AS avg_daily,
       ROUND((CAST(SUM(t.cnt) AS DOUBLE) / COUNT(*)) / o.overall_avg, 6)
         AS seasonality_idx
FROM tagged t JOIN overall o ON o.event_type = t.event_type
GROUP BY t.event_type, t.dow, o.overall_avg
ORDER BY t.event_type, t.dow
""",
    doc="Day-of-week seasonality: engine-neutral weekday index "
    "((epoch_days+3) mod 7, 0=Monday), per-dow daily averages over "
    "the overall daily mean as a 6dp seasonality index per event type.",
)
def f36_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("cnt"))
    tagged = daily.withColumn(
        "dow",
        F.pmod(F.datediff(F.col("day"), F.lit("1970-01-01")) + 3, F.lit(7))
        .cast("bigint"),
    )
    overall = tagged.groupBy("event_type").agg(
        (F.sum("cnt").cast("double") / F.count("*")).alias("overall_avg")
    )
    return (
        tagged.join(F.broadcast(overall), "event_type")
        .groupBy("event_type", "dow", "overall_avg")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("cnt").cast("bigint").alias("total_events"),
            F.round(F.sum("cnt").cast("double") / F.count("*"), 6)
            .alias("avg_daily"),
        )
        .select(
            "event_type",
            "dow",
            "n_days",
            "total_events",
            "avg_daily",
            F.round(
                (F.col("total_events").cast("double") / F.col("n_days"))
                / F.col("overall_avg"),
                6,
            ).alias("seasonality_idx"),
        )
        .orderBy("event_type", "dow")
    )


# ---------------------------------------------------------------------------
# G12 — rolling cross-series correlation (purchase vs click volume)
#
# Do purchase and click volumes move together week over week? 7-day
# rolling Pearson r between the two daily series, computed from exact
# integer rolling sums (Σx, Σy, Σxy, Σx², Σy², n) — never a windowed
# corr() aggregate, whose internal double accumulation is engine- and
# order-dependent. r = (nΣxy − ΣxΣy) / (√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)):
# the variance terms stay exact BIGINTs (their direct product could
# overflow, so each takes its own sqrt before the multiply), leaving
# three IEEE ops on identical operands, 6dp-rounded. All windows run
# on the day-grain series — bounded by the calendar, never data-sized.
# ---------------------------------------------------------------------------


@register(
    "g12_rolling_correlation",
    oracle="""
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS x,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY 1
), rolled AS (
  SELECT day,
         ROW_NUMBER() OVER (ORDER BY day) AS rn,
         CAST(SUM(x) OVER w AS BIGINT) AS sx,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(x * y) OVER w AS BIGINT) AS sxy,
         CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
         CAST(SUM(y * y) OVER w AS BIGINT) AS syy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, sx AS sum_purchase, sy AS sum_click,
       ROUND(CAST(7 * sxy - sx * sy AS DOUBLE)
             / NULLIF(sqrt(CAST(7 * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(7 * syy - sy * sy AS DOUBLE)), 0),
             6) AS pearson_r
FROM rolled
WHERE rn >= 7
ORDER BY day
""",
    doc="7-day rolling Pearson correlation between purchase and click "
    "daily volumes from exact integer rolling sums (windowed corr() "
    "is engine-dependent); day-grain windows only, 6dp-rounded r.",
)
def g12_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(to_day("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .alias("y"),
    )
    # day-grain relation: the global windows below are calendar-bounded
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    w_rn = Window.orderBy("day")
    rolled = daily.select(
        "day",
        F.row_number().over(w_rn).alias("rn"),
        F.sum("x").over(w).cast("bigint").alias("sx"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
    ).filter(F.col("rn") >= 7)
    return rolled.select(
        "day",
        F.col("sx").alias("sum_purchase"),
        F.col("sy").alias("sum_click"),
        F.round(
            (F.lit(7) * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / F.nullif(
                F.sqrt(
                    (F.lit(7) * F.col("sxx") - F.col("sx") * F.col("sx"))
                    .cast("double")
                )
                * F.sqrt(
                    (F.lit(7) * F.col("syy") - F.col("sy") * F.col("sy"))
                    .cast("double")
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("pearson_r"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# F37 — Benford first-digit audit
#
# The fraud/quality screen on monetary columns: does the first
# significant digit of order totals follow Benford's law
# P(d) = log10(1 + 1/d)? Digit extraction never touches doubles: the
# cent-quantized BIGINT's leading decimal digit IS the price's leading
# significant digit (×100 shifts the decimal point, never the
# leading digit), and integer→string formatting is identical in both
# engines. One scan, a 9-row readout; expected shares are one log10 +
# one division per digit, 9dp-rounded, and observed shares divide
# exact counts.
# ---------------------------------------------------------------------------


@register(
    "f37_benford_audit",
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)) * 100)
                               AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d
  FROM orders
  WHERE o_totalprice > 0
), tot AS (
  SELECT COUNT(*) AS n FROM digits
)
SELECT d AS digit,
       COUNT(*) AS n_orders,
       ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(tot.n), 9) AS observed_share,
       ROUND(log10(1 + 1.0 / d), 9) AS benford_share,
       ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(tot.n)
             - log10(1 + 1.0 / d), 9) AS delta
FROM digits CROSS JOIN tot
GROUP BY d
ORDER BY d
""",
    doc="Benford first-digit audit of order totals: leading digit "
    "from the cent-quantized BIGINT (no double log tricks), observed "
    "vs log10(1+1/d) expected shares, 9dp deltas — the monetary "
    "anomaly screen.",
)
def f37_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    digits = (
        o.filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice").cast("decimal(12,2)") * 100)
                .cast("bigint")
                .cast("string"),
                1,
                1,
            )
            .cast("bigint")
            .alias("d")
        )
    )
    tot = digits.agg(F.count("*").alias("n"))
    raw_share = F.col("n_orders").cast("double") / F.col("n")
    return (
        digits.crossJoin(F.broadcast(tot))  # 1-row scalar
        .groupBy(F.col("d").alias("digit"))
        .agg(F.count("*").alias("n_orders"), F.max("n").alias("n"))
        .select(
            "digit",
            "n_orders",
            F.round(raw_share, 9).alias("observed_share"),
            F.round(F.log10(1 + 1.0 / F.col("digit")), 9)
            .alias("benford_share"),
            # delta rounds the RAW share difference (matching the
            # oracle), not the already-rounded observed_share
            F.round(raw_share - F.log10(1 + 1.0 / F.col("digit")), 9)
            .alias("delta"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# G13 — decile → dimension profile (who is in each spend tier?)
#
# g8 says how much each decile spends; g13 says WHO they are: per
# spend decile, customer count, average account balance, and the
# dominant market segment with its share. The decile comes from the
# same distributed rank machinery as g8 (prefix_rank + integer tile
# formula — no single-partition NTILE); attributes attach via one
# key shuffle join of two customer-grain relations. Dominant-segment
# argmax is a window over the decile×segment grid (≤ 10×|segments|
# rows — bounded). Balances aggregate in exact DECIMAL.
# ---------------------------------------------------------------------------


@register(
    "g13_decile_profile",
    oracle="""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
           AS spend
  FROM orders GROUP BY o_custkey
), tiled AS (
  SELECT s.o_custkey, s.spend,
         NTILE(10) OVER (ORDER BY s.spend, s.o_custkey) AS decile,
         c.c_acctbal, c.c_mktsegment
  FROM spend s JOIN customer c ON c.c_custkey = s.o_custkey
), per_decile AS (
  SELECT decile,
         COUNT(*) AS n_customers,
         CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2))
              AS DOUBLE) / COUNT(*) AS avg_acctbal
  FROM tiled GROUP BY decile
), seg AS (
  SELECT decile, c_mktsegment, COUNT(*) AS c,
         ROW_NUMBER() OVER (PARTITION BY decile
                            ORDER BY COUNT(*) DESC, c_mktsegment) AS rn
  FROM tiled GROUP BY decile, c_mktsegment
)
SELECT p.decile, p.n_customers,
       ROUND(p.avg_acctbal, 9) AS avg_acctbal,
       s.c_mktsegment AS top_segment,
       ROUND(CAST(s.c AS DOUBLE) / p.n_customers, 6) AS top_segment_share
FROM per_decile p JOIN seg s ON s.decile = p.decile AND s.rn = 1
ORDER BY p.decile
""",
    doc="Spend-decile demographic profile: distributed-rank deciles "
    "(g8's prefix machinery), exact-decimal average balances, dominant "
    "market segment per tier via a bounded decile x segment argmax "
    "window.",
)
def g13_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    spend = o.groupBy("o_custkey").agg(
        F.sum(X.dec("o_totalprice")).cast("decimal(38,2)").alias("spend")
    )
    ranked = prefix_rank(
        spend,
        [F.asc("spend"), F.asc("o_custkey")],
        rn_col="rn",
        total_rows_col="n_total",
        pin_input=True,  # orders scan+agg would run 2x in the sampling pass
    )
    tiled = (
        ranked.withColumn(
            "decile", ntile_from_rank(F.col("rn"), F.col("n_total"), 10)
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        # pinned: the decile census AND the top-segment branch both
        # consume it — unpinned, each re-ran the prefix window + the
        # customer join; 3 narrow columns per customer
        .select("decile", "c_acctbal", "c_mktsegment")
        .localCheckpoint(eager=True)
    )
    per_decile = tiled.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        (
            F.sum(X.dec("c_acctbal")).cast("decimal(38,2)").cast("double")
            / F.count("*")
        ).alias("avg_acctbal"),
    )
    w_seg = Window.partitionBy("decile").orderBy(
        F.desc("c"), F.asc("c_mktsegment")
    )
    seg = (
        tiled.groupBy("decile", "c_mktsegment")
        .agg(F.count("*").alias("c"))
        .withColumn("rn", F.row_number().over(w_seg))
        .filter(F.col("rn") == 1)
    )
    return (
        per_decile.join(F.broadcast(seg), "decile")
        .select(
            "decile",
            "n_customers",
            F.round("avg_acctbal", 9).alias("avg_acctbal"),
            F.col("c_mktsegment").alias("top_segment"),
            F.round(F.col("c").cast("double") / F.col("n_customers"), 6)
            .alias("top_segment_share"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# F38 — mutual information between language and source
#
# The information-theoretic companion to f34's chi-square: how many
# nats does knowing the source tell you about the language?
# I(X;Y) = Σ p_xy·ln(p_xy/(p_x·p_y)) over OBSERVED cells only
# (0·ln 0 = 0, so zero cells vanish — no grid completion, unlike
# chi-square). Marginal entropies ride along and normalize:
# NMI = I/min(H_lang, H_src). Every per-cell/per-marginal term is an
# IEEE expression over exact integer ratios, 12dp-quantized to
# DECIMAL before the cross-cell sum — the same order-independence
# trick as f34/x79. One scan, three grid-sized aggregates.
# ---------------------------------------------------------------------------


@register(
    "f38_mutual_information",
    oracle="""
WITH obs AS (
  SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY lang, source
), rt AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS r FROM obs GROUP BY lang
), ct AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS s FROM obs GROUP BY source
), n AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM obs
), mi AS (
  SELECT CAST(SUM(CAST(ROUND(
           (CAST(o.c AS DOUBLE) / n.n)
             * LN(CAST(o.c AS DOUBLE) * n.n / (rt.r * ct.s)), 12)
           AS DECIMAL(38,12))) AS DOUBLE) AS mi_nats
  FROM obs o
  JOIN rt ON rt.lang = o.lang
  JOIN ct ON ct.source = o.source
  CROSS JOIN n
), hx AS (
  SELECT CAST(SUM(CAST(ROUND(
           -(CAST(r AS DOUBLE) / n.n) * LN(CAST(r AS DOUBLE) / n.n), 12)
           AS DECIMAL(38,12))) AS DOUBLE) AS h_lang
  FROM rt CROSS JOIN n
), hy AS (
  SELECT CAST(SUM(CAST(ROUND(
           -(CAST(s AS DOUBLE) / n.n) * LN(CAST(s AS DOUBLE) / n.n), 12)
           AS DECIMAL(38,12))) AS DOUBLE) AS h_src
  FROM ct CROSS JOIN n
)
SELECT (SELECT n FROM n) AS n_docs,
       ROUND(mi_nats, 9) AS mi_nats,
       ROUND(h_lang, 9) AS h_lang,
       ROUND(h_src, 9) AS h_src,
       ROUND(mi_nats / NULLIF(LEAST(h_lang, h_src), 0), 6) AS nmi
FROM mi CROSS JOIN hx CROSS JOIN hy
""",
    doc="Mutual information lang<->source in nats with marginal "
    "entropies and NMI = I/min(H): observed-cell terms over exact "
    "integer ratios, 12dp-quantized exact sums — the source-balance "
    "diagnostic beside f34's chi-square.",
)
def f38_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count("*").alias("c"))
    rt = obs.groupBy("lang").agg(F.sum("c").cast("bigint").alias("r"))
    ct = obs.groupBy("source").agg(F.sum("c").cast("bigint").alias("s"))
    n = obs.agg(F.sum("c").cast("bigint").alias("n"))

    def qsum(term, alias):
        return (
            F.sum(F.round(term, 12).cast("decimal(38,12)"))
            .cast("double")
            .alias(alias)
        )

    mi_term = (F.col("c").cast("double") / F.col("n")) * F.log(
        F.col("c").cast("double") * F.col("n") / (F.col("r") * F.col("s"))
    )
    mi = (
        obs.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))  # 1-row scalar
        .agg(qsum(mi_term, "mi_nats"))
    )
    px = F.col("r").cast("double") / F.col("n")
    hx = rt.crossJoin(F.broadcast(n)).agg(qsum(-px * F.log(px), "h_lang"))
    py = F.col("s").cast("double") / F.col("n")
    hy = ct.crossJoin(F.broadcast(n)).agg(qsum(-py * F.log(py), "h_src"))
    return (
        n.crossJoin(F.broadcast(mi))  # all sides single-row scalars
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.col("n").alias("n_docs"),
            F.round("mi_nats", 9).alias("mi_nats"),
            F.round("h_lang", 9).alias("h_lang"),
            F.round("h_src", 9).alias("h_src"),
            F.round(
                F.col("mi_nats")
                / F.nullif(F.least("h_lang", "h_src"), F.lit(0.0)),
                6,
            ).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# F41 — winsorized moments (the clamp-based robust companion to f25)
#
# f25 REPORTS robust statistics; winsorization is the PREPROCESSING
# step ML feature pipelines actually apply — clamp to [p05, p95], then
# take ordinary moments of the clamped series. Percentiles come from
# the same exact interpolated-quantile both engines share (proven by
# f25); clamped values are then bit-identical doubles, each term is
# quantized once to 12dp DECIMAL, and mean/std divide exact sums —
# order-independent at any partition count. Two passes total
# (quantiles, then moments), no window, no join.
# ---------------------------------------------------------------------------


@register(
    "f41_winsorized_stats",
    oracle="""
WITH q AS (
  SELECT quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events WHERE value IS NOT NULL
), clamped AS (
  SELECT GREATEST(q.p05, LEAST(q.p95, value)) AS v,
         CASE WHEN value < q.p05 THEN 1 ELSE 0 END AS lo,
         CASE WHEN value > q.p95 THEN 1 ELSE 0 END AS hi
  FROM events CROSS JOIN q WHERE value IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST((SELECT p05 FROM q) AS DOUBLE) AS p05,
       CAST((SELECT p95 FROM q) AS DOUBLE) AS p95,
       CAST(SUM(lo) AS BIGINT) AS n_clamped_lo,
       CAST(SUM(hi) AS BIGINT) AS n_clamped_hi,
       ROUND(CAST(SUM(CAST(ROUND(v, 12) AS DECIMAL(38,12))) AS DOUBLE)
             / COUNT(*), 9) AS mean_w,
       ROUND(SQRT(CAST(SUM(CAST(ROUND(v * v, 12) AS DECIMAL(38,12)))
                       AS DOUBLE) / COUNT(*)
                  - POW(CAST(SUM(CAST(ROUND(v, 12) AS DECIMAL(38,12)))
                             AS DOUBLE) / COUNT(*), 2)), 9) AS std_w
FROM clamped
""",
    doc="Winsorized moments: clamp events.value to [p05, p95] (exact "
    "shared quantiles), then 12dp-quantized exact-decimal mean and "
    "population std of the clamped series with clamp-side counts — "
    "the feature-pipeline preprocessing step beside f25's reporting.",
)
def f41_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    p05, p95 = e.agg(
        F.percentile("value", F.lit(0.05)),
        F.percentile("value", F.lit(0.95)),
    ).first()
    v = F.greatest(F.lit(p05), F.least(F.lit(p95), F.col("value")))
    qsum = lambda t: F.sum(F.round(t, 12).cast("decimal(38,12)")).cast(
        "double"
    )
    mean = qsum(v) / F.count("*")
    return e.agg(
        F.count("*").cast("bigint").alias("n"),
        F.lit(p05).cast("double").alias("p05"),
        F.lit(p95).cast("double").alias("p95"),
        F.sum(F.when(F.col("value") < F.lit(p05), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clamped_lo"),
        F.sum(F.when(F.col("value") > F.lit(p95), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clamped_hi"),
        F.round(mean, 9).alias("mean_w"),
        F.round(F.sqrt(qsum(v * v) / F.count("*") - F.pow(mean, 2)), 9).alias(
            "std_w"
        ),
    )


# ---------------------------------------------------------------------------
# F42 — rolling-origin forecast backtest (seasonal-naive vs naive)
#
# The evaluation loop every forecasting deployment runs: pick a
# baseline model family, replay it over history, score the errors.
# Two zero-parameter baselines on the daily revenue series — naive
# (ŷ_d = y_{d-1 day}) and seasonal-naive (ŷ_d = y_{d-7 days}) — joined
# by CALENDAR distance on the day ordinal (an equi-join on day grain,
# robust to missing days, unlike LAG over present rows). Errors are
# differences of exact-decimal-derived doubles (bit-identical), each
# |e| quantized once to 12dp DECIMAL; MAE/MAPE divide exact sums, and
# the skill score 1 − MAE_snaive/MAE_naive divides identical doubles.
#
# Scale: the series is day-grain (calendar-bounded); both forecast
# joins are self-equi-joins on that grain. The raw-to-grain rollup is
# the only data-sized stage — one shuffle, map-side combined.
# ---------------------------------------------------------------------------


@register(
    "f42_forecast_backtest",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                   AS DECIMAL(38,2)) AS DOUBLE) AS y
  FROM orders GROUP BY 1
), scored AS (
  SELECT t.d, t.y, n.y AS yhat_naive, s.y AS yhat_snaive
  FROM daily t
  JOIN daily n ON n.d = t.d - 1
  JOIN daily s ON s.d = t.d - 7
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
       ROUND(CAST(SUM(CAST(ROUND(ABS(y - yhat_naive), 12)
                           AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
         AS mae_naive,
       ROUND(CAST(SUM(CAST(ROUND(ABS(y - yhat_snaive), 12)
                           AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
         AS mae_snaive,
       ROUND(CAST(SUM(CAST(ROUND(ABS(y - yhat_snaive) / y, 12)
                           AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 9)
         AS mape_snaive,
       ROUND(1.0 - CAST(SUM(CAST(ROUND(ABS(y - yhat_snaive), 12)
                                 AS DECIMAL(38,12))) AS DOUBLE)
                   / CAST(SUM(CAST(ROUND(ABS(y - yhat_naive), 12)
                                   AS DECIMAL(38,12))) AS DOUBLE), 9)
         AS skill_vs_naive
FROM scored
""",
    doc="Rolling-origin backtest of naive (t-1) and seasonal-naive "
    "(t-7) daily-revenue forecasts, joined by calendar day ordinal "
    "(missing-day robust); 12dp-quantized exact MAE / MAPE and the "
    "seasonal-vs-naive skill score.",
)
def f42_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("d")
    ).agg(
        F.sum(X.dec("o_totalprice"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("y")
    )
    t = daily.alias("t")
    n = daily.select(
        (F.col("d") + 1).alias("dn"), F.col("y").alias("yhat_naive")
    )
    s = daily.select(
        (F.col("d") + 7).alias("ds"), F.col("y").alias("yhat_snaive")
    )
    scored = t.join(n, F.col("t.d") == F.col("dn")).join(
        s, F.col("t.d") == F.col("ds")
    )
    qd = lambda term: F.sum(F.round(term, 12).cast("decimal(38,12)")).cast(
        "double"
    )
    e_n = F.abs(F.col("y") - F.col("yhat_naive"))
    e_s = F.abs(F.col("y") - F.col("yhat_snaive"))
    return scored.agg(
        F.count("*").cast("bigint").alias("n_eval"),
        F.round(qd(e_n) / F.count("*"), 6).alias("mae_naive"),
        F.round(qd(e_s) / F.count("*"), 6).alias("mae_snaive"),
        F.round(qd(e_s / F.col("y")) / F.count("*"), 9).alias("mape_snaive"),
        F.round(F.lit(1.0) - qd(e_s) / qd(e_n), 9).alias("skill_vs_naive"),
    )


# ---------------------------------------------------------------------------
# M9 — zone-map pruning estimate (min/max file skipping)
#
# m3 PRESCRIBES a clustered layout (Morton order); this MEASURES what
# zone maps buy on the layout a warehouse actually has: orders
# grouped into monthly files (date-clustered, the natural ingest
# layout), per-file min/max collected for two candidate predicate
# columns — o_orderdate (correlated with the layout) and o_totalprice
# (uncorrelated) — and a fixed range predicate evaluated against each
# file's zone. The contrast IS the result: the date predicate skips
# almost every file, the price predicate almost none, which is the
# quantitative argument for m3's re-clustering. Two hash aggregates
# (file grain, then one row per predicate via a tiny union); zone
# arithmetic is integer/decimal-exact.
# ---------------------------------------------------------------------------

_M9_DATE_LO, _M9_DATE_HI = "1998-01-01", "1998-03-31"
_M9_PRICE_LO, _M9_PRICE_HI = 50000, 60000


@register(
    "m9_zone_map_pruning",
    oracle=f"""
WITH filed AS (
  SELECT (date_diff('day', DATE '1995-01-01', o_orderdate) // 30) AS file_id,
         o_orderdate, CAST(o_totalprice AS DECIMAL(12,2)) AS price
  FROM orders
), zones AS (
  SELECT file_id, COUNT(*) AS n_rows,
         MIN(o_orderdate) AS d_min, MAX(o_orderdate) AS d_max,
         MIN(price) AS p_min, MAX(price) AS p_max
  FROM filed GROUP BY file_id
), verdicts AS (
  SELECT 'orderdate' AS predicate, file_id, n_rows,
         (d_max < DATE '{_M9_DATE_LO}' OR d_min > DATE '{_M9_DATE_HI}')
           AS skippable
  FROM zones
  UNION ALL
  SELECT 'totalprice', file_id, n_rows,
         (p_max < {_M9_PRICE_LO} OR p_min > {_M9_PRICE_HI})
  FROM zones
)
SELECT predicate,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN skippable THEN 1 ELSE 0 END) AS BIGINT)
         AS n_skipped,
       CAST(SUM(CASE WHEN skippable THEN 0 ELSE n_rows END) AS BIGINT)
         AS rows_scanned,
       ROUND(CAST(SUM(CASE WHEN skippable THEN 0 ELSE n_rows END) AS DOUBLE)
             / SUM(n_rows), 6) AS scan_fraction
FROM verdicts
GROUP BY predicate
ORDER BY predicate
""",
    doc="Zone-map file-skipping estimate on the natural monthly-file "
    "layout: per-file min/max zones for a layout-correlated predicate "
    "(order date) vs an uncorrelated one (total price), reporting "
    "files skipped and residual scan fraction — the quantitative "
    "case for m3's re-clustering.",
)
def m9_zone_map_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    filed = o.select(
        (
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
            )
            / 30
        )
        .cast("long")
        .alias("file_id"),
        "o_orderdate",
        X.dec("o_totalprice").alias("price"),
    )
    zones = filed.groupBy("file_id").agg(
        F.count("*").alias("n_rows"),
        F.min("o_orderdate").alias("d_min"),
        F.max("o_orderdate").alias("d_max"),
        F.min("price").alias("p_min"),
        F.max("price").alias("p_max"),
    )
    date_skip = (F.col("d_max") < F.lit(_M9_DATE_LO).cast("date")) | (
        F.col("d_min") > F.lit(_M9_DATE_HI).cast("date")
    )
    price_skip = (F.col("p_max") < _M9_PRICE_LO) | (
        F.col("p_min") > _M9_PRICE_HI
    )
    verdicts = zones.select(
        F.lit("orderdate").alias("predicate"),
        "file_id",
        "n_rows",
        date_skip.alias("skippable"),
    ).unionByName(
        zones.select(
            F.lit("totalprice").alias("predicate"),
            "file_id",
            "n_rows",
            price_skip.alias("skippable"),
        )
    )
    scanned = F.sum(F.when(F.col("skippable"), 0).otherwise(F.col("n_rows")))
    return (
        verdicts.groupBy("predicate")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum(F.when(F.col("skippable"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_skipped"),
            scanned.cast("bigint").alias("rows_scanned"),
            F.round(
                scanned.cast("double") / F.sum("n_rows"), 6
            ).alias("scan_fraction"),
        )
        .orderBy("predicate")
    )


# ---------------------------------------------------------------------------
# F44 — largest-triangle downsampling (LTOB) for chart serving
#
# A dashboard can't plot 10⁹ points; the standard visually-lossless
# reduction is largest-triangle downsampling (Steinarsson 2013). The
# one-bucket variant (LTOB) is fully relational: each point's
# effective area is the triangle with its immediate neighbors
# (LAG/LEAD over the day grain — calendar-bounded, safe), and each
# month-bucket keeps its largest-area point via an argmax struct with
# (area DESC, day ASC) tiebreak. Area arithmetic is products/sums of
# exact-decimal-derived doubles — identical operands in both engines,
# so the argmax choice is deterministic. One day-grain rollup, one
# window pass, one bucket argmax.
# ---------------------------------------------------------------------------


@register(
    "f44_downsample_ltob",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         strftime(o_orderdate, '%Y-%m') AS bucket,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                   AS DECIMAL(38,2)) AS DOUBLE) AS y
  FROM orders GROUP BY 1, 2
), with_nbrs AS (
  SELECT d, bucket, y,
         LAG(d)  OVER w AS xp, LAG(y)  OVER w AS yp,
         LEAD(d) OVER w AS xn, LEAD(y) OVER w AS yn
  FROM daily WINDOW w AS (ORDER BY d)
), areas AS (
  SELECT d, bucket, y,
         ABS((xp - xn) * (y - yp) - (xp - d) * (yn - yp)) / 2.0 AS area
  FROM with_nbrs WHERE xp IS NOT NULL AND xn IS NOT NULL
), picked AS (
  SELECT bucket, d, y, area,
         ROW_NUMBER() OVER (PARTITION BY bucket
                            ORDER BY area DESC, d ASC) AS rn
  FROM areas
)
SELECT bucket, CAST(d AS BIGINT) AS day_ord,
       y AS value, ROUND(area, 6) AS area
FROM picked WHERE rn = 1
ORDER BY bucket
""",
    doc="LTOB chart downsampling (Steinarsson 2013): per-day revenue "
    "series, triangle area with immediate neighbors via LAG/LEAD on "
    "the calendar-bounded day grain, largest-area point kept per "
    "month bucket with a deterministic (area, day) tiebreak.",
)
def f44_downsample_ltob(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d"),
        F.date_format("o_orderdate", "yyyy-MM").alias("bucket"),
    ).agg(
        F.sum(X.dec("o_totalprice"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("y")
    )
    # day-grain window: calendar-bounded, safe by construction
    w = Window.orderBy("d")
    nbrs = daily.select(
        "d",
        "bucket",
        "y",
        F.lag("d").over(w).alias("xp"),
        F.lag("y").over(w).alias("yp"),
        F.lead("d").over(w).alias("xn"),
        F.lead("y").over(w).alias("yn"),
    ).filter(F.col("xp").isNotNull() & F.col("xn").isNotNull())
    area = (
        F.abs(
            (F.col("xp") - F.col("xn")) * (F.col("y") - F.col("yp"))
            - (F.col("xp") - F.col("d")) * (F.col("yn") - F.col("yp"))
        )
        / 2.0
    )
    areas = nbrs.select("d", "bucket", "y", area.alias("area"))
    pick_w = Window.partitionBy("bucket").orderBy(
        F.desc("area"), F.asc("d")
    )
    return (
        areas.withColumn("rn", F.row_number().over(pick_w))
        .filter(F.col("rn") == 1)
        .select(
            "bucket",
            F.col("d").cast("bigint").alias("day_ord"),
            F.col("y").alias("value"),
            F.round("area", 6).alias("area"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# I3 — UNPIVOT / MELT (wide → long reshaping, the inverse of f22)
#
# f22 pivots long → wide; serving layers and chart APIs constantly
# need the inverse: a wide per-segment metrics row melted to
# (segment, metric, value) tuples. Spark 3.4+ has the first-class
# ``DataFrame.unpivot`` (SQL UNPIVOT); DuckDB's UNPIVOT mirrors it.
# Values are normalized to DOUBLE before melting (UNPIVOT requires a
# common type) with the exact-decimal sums computed first, so the
# long rows carry the same bit patterns the wide table did.
# ---------------------------------------------------------------------------


@register(
    "i3_unpivot_metrics",
    oracle="""
WITH wide AS (
  SELECT c_mktsegment AS segment,
         CAST(COUNT(*) AS DOUBLE) AS n_customers,
         CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2))
              AS DOUBLE) AS total_balance,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
           AS avg_balance
  FROM customer GROUP BY c_mktsegment
)
SELECT segment, metric, value
FROM wide
UNPIVOT (value FOR metric IN (n_customers, total_balance, avg_balance))
ORDER BY segment, metric
""",
    doc="UNPIVOT/MELT: the wide per-segment metrics row melted to "
    "(segment, metric, value) via the first-class DataFrame.unpivot "
    "— the inverse of f22's pivot; exact-decimal sums computed "
    "before the reshape so long rows carry identical doubles.",
)
def i3_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    wide = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").cast("double").alias("n_customers"),
        F.sum(X.dec("c_acctbal"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("total_balance"),
        (F.sum(X.dec("c_acctbal")).cast("double") / F.count("*")).alias(
            "avg_balance"
        ),
    )
    return wide.unpivot(
        ids=["segment"],
        values=["n_customers", "total_balance", "avg_balance"],
        variableColumnName="metric",
        valueColumnName="value",
    ).orderBy("segment", "metric")


# ---------------------------------------------------------------------------
# F45 — Mann-Whitney U (rank-sum two-sample test)
#
# f33's z-test compares proportions and x82's KS compares CDFs; the
# workhorse nonparametric location test is Mann-Whitney. Everything
# reduces to exact integers: ranks live in DOUBLED units so midranks
# of ties stay integral (avg_rank×2 = 2·|{v' < v}| + t_v + 1), the
# rank sum and U statistic are BIGINT algebra, and the tie-corrected
# variance consumes Σ(t³−t) as a BIGINT — the z-score then divides
# identical doubles built from identical integers. The rank
# computation runs on the DISTINCT-VALUE grain (a 2dp-bounded domain,
# not a row-count-sized relation), with a cumulative count window
# over that grain only.
# ---------------------------------------------------------------------------

_F45_A, _F45_B = "click", "purchase"


@register(
    "f45_mann_whitney",
    oracle=f"""
WITH samples AS (
  SELECT value, CASE WHEN event_type = '{_F45_A}' THEN 1 ELSE 0 END AS in_a
  FROM events
  WHERE event_type IN ('{_F45_A}', '{_F45_B}') AND value IS NOT NULL
), grain AS (
  SELECT value, COUNT(*) AS t,
         CAST(SUM(in_a) AS BIGINT) AS t_a
  FROM samples GROUP BY value
), ranked AS (
  SELECT value, t, t_a,
         CAST(COALESCE(SUM(t) OVER (ORDER BY value
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS below
  FROM grain
), stats AS (
  SELECT CAST(SUM(t_a) AS BIGINT) AS n1,
         CAST(SUM(t - t_a) AS BIGINT) AS n2,
         CAST(SUM((2 * below + t + 1) * t_a) AS BIGINT) AS r1_2,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term
  FROM ranked
)
SELECT n1, n2,
       CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2 AS u_stat,
       ROUND((CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2
              - CAST(n1 AS DOUBLE) * n2 / 2)
             / SQRT(CAST(n1 AS DOUBLE) * n2 / 12
                    * ((n1 + n2 + 1)
                       - CAST(tie_term AS DOUBLE)
                         / ((n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE)))),
             6) AS z_score,
       ROUND(1.0 - (CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) / 2) * 2
                   / (CAST(n1 AS DOUBLE) * n2), 6) AS rank_biserial
FROM stats
""",
    doc="Mann-Whitney U rank-sum test (click vs purchase values): "
    "midranks in doubled integer units, BIGINT rank-sum and tie-"
    "corrected variance, z and rank-biserial effect size dividing "
    "identical integer-derived doubles; distinct-value-grain ranks, "
    "never a row-sized sort.",
)
def f45_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_F45_A, _F45_B)
        & F.col("value").isNotNull()
    )
    grain = e.groupBy("value").agg(
        F.count("*").alias("t"),
        F.sum(F.when(F.col("event_type") == _F45_A, 1).otherwise(0))
        .cast("bigint")
        .alias("t_a"),
    )
    # distinct-value grain (2dp-bounded domain): safe to window
    w = Window.orderBy("value").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = grain.select(
        "value",
        "t",
        "t_a",
        F.coalesce(F.sum("t").over(w), F.lit(0)).cast("bigint").alias(
            "below"
        ),
    )
    stats = ranked.agg(
        F.sum("t_a").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("t_a")).cast("bigint").alias("n2"),
        F.sum((2 * F.col("below") + F.col("t") + 1) * F.col("t_a"))
        .cast("bigint")
        .alias("r1_2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_term"),
    )
    u = (F.col("r1_2") - F.col("n1") * (F.col("n1") + 1)).cast("double") / 2
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    n = F.col("n1") + F.col("n2")
    var = (
        n1d
        * n2d
        / 12
        * (
            (n + 1).cast("double")
            - F.col("tie_term").cast("double")
            / (n.cast("double") * (n - 1).cast("double"))
        )
    )
    return stats.select(
        "n1",
        "n2",
        u.alias("u_stat"),
        F.round((u - n1d * n2d / 2) / F.sqrt(var), 6).alias("z_score"),
        F.round(F.lit(1.0) - u * 2 / (n1d * n2d), 6).alias(
            "rank_biserial"
        ),
    )


# ---------------------------------------------------------------------------
# G18 — concurrency curve (sweep line over session intervals)
#
# "How many sessions were active at once?" — the gauge metric behind
# capacity planning. Classic sweep line: each g2 session emits a +1
# boundary at its start and a −1 at end+1μs (inclusive-end
# encoding), the running sum over the boundary total order IS the
# concurrency curve, and its max / argmax / time-weighted mean are
# the operating numbers. The boundary relation is session-count-
# sized (data-sized), so the running sum comes from operators/
# prefix.py's distributed rank — no single-partition window — and
# "next boundary time" joins back on rank+1 (equi-join, co-
# partitioned by the broadcast offsets pattern). Tie order
# (t, delta, user_id) releases ends before starts at the same
# microsecond, mirrored exactly in the oracle.
# ---------------------------------------------------------------------------


@register(
    "g18_concurrency_curve",
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
  SELECT user_id, MIN(t) AS s, MAX(t) AS e
  FROM numbered GROUP BY user_id, sess_idx
), bounds AS (
  SELECT user_id, s AS t, 1 AS delta FROM sessions
  UNION ALL
  SELECT user_id, e + 1, -1 FROM sessions
), curve AS (
  SELECT t, delta,
         CAST(SUM(delta) OVER (ORDER BY t, delta, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS conc,
         LEAD(t) OVER (ORDER BY t, delta, user_id) AS t_next
  FROM bounds
)
SELECT CAST((SELECT COUNT(*) FROM sessions) AS BIGINT) AS n_sessions,
       CAST(MAX(conc) AS BIGINT) AS max_concurrent,
       CAST(MIN(CASE WHEN conc = (SELECT MAX(conc) FROM curve) THEN t END)
            AS BIGINT) AS first_peak_us,
       ROUND(CAST(SUM(CAST(conc * (t_next - t) AS DECIMAL(38,0)))
                  AS DOUBLE)
             / (MAX(t) - MIN(t)), 6) AS avg_concurrency
FROM curve
""",
    doc="Sweep-line concurrency gauge over g2's sessions: +1/-1 "
    "boundary events (inclusive-end encoding), running sum via the "
    "distributed prefix rank (no single-partition window), max / "
    "first-peak-time / interval-weighted mean concurrency; the "
    "(t, delta, user) tie order releases ends before starts and is "
    "mirrored by the oracle.",
)
def g18_concurrency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.operators.sessions import assign_sessions

    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", epoch_us("ts").alias("t")
    )
    numbered = assign_sessions(e, "user_id", "t", "event_id", _G2_GAP_US)
    sessions = numbered.groupBy("user_id", "sess_idx").agg(
        F.min("t").alias("s"), F.max("t").alias("e")
    )
    bounds = sessions.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        sessions.select(
            "user_id", (F.col("e") + 1).alias("t"), F.lit(-1).alias("delta")
        )
    )
    curve = prefix_rank(
        bounds,
        [F.asc("t"), F.asc("delta"), F.asc("user_id")],
        "delta",
        cum_col="conc",
        rn_col="rn",
        # the session-assignment windows + rollup above would run 2x
        # in the range boundary sampling pass
        pin_input=True,
        # output pinned: the rn-shifted self-join below reads the curve
        # TWICE — unpinned, each side re-ran the prefix window + the
        # offsets broadcast over the ranged blocks
    ).localCheckpoint(eager=True)
    nxt = curve.select((F.col("rn") - 1).alias("rn"), F.col("t").alias("t_next"))
    stepped = curve.join(nxt, "rn", "left")
    n_sessions = sessions.agg(
        F.count("*").cast("bigint").alias("n_sessions")
    )
    peak = stepped.agg(F.max("conc").alias("peak"))
    return (
        stepped.crossJoin(F.broadcast(peak))  # 1-row scalar
        .agg(
            F.max("conc").cast("bigint").alias("max_concurrent"),
            F.min(
                F.when(F.col("conc") == F.col("peak"), F.col("t"))
            )
            .cast("bigint")
            .alias("first_peak_us"),
            F.round(
                F.sum(
                    (
                        F.col("conc") * (F.col("t_next") - F.col("t"))
                    ).cast("decimal(38,0)")
                ).cast("double")
                / (F.max("t") - F.min("t")),
                6,
            ).alias("avg_concurrency"),
        )
        .crossJoin(F.broadcast(n_sessions))  # 1-row scalar
        .select(
            "n_sessions", "max_concurrent", "first_peak_us", "avg_concurrency"
        )
    )


# ---------------------------------------------------------------------------
# F46 — Theil-Sen robust trend (median-of-slopes companion to f26)
#
# OLS (f26) is mean-like: one corrupted day drags the slope. The
# Theil-Sen estimator takes the MEDIAN over all pairwise day-slopes —
# up to ~29% contamination tolerance — and its intercept is the
# median of per-point residuals against that slope. The pair relation
# is the DAY GRAIN squared (calendar-bounded on both axes, SF-
# invariant: ~2.4k days → ~3M pairs regardless of row count), an
# equi-free range self-join that never touches raw rows. Slopes
# divide identical exact-decimal-derived doubles; the medians use the
# shared interpolated quantile (f25's contract).
# ---------------------------------------------------------------------------


@register(
    "f46_theil_sen",
    oracle="""
WITH weekly AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) // 7 AS w,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                   AS DECIMAL(38,2)) AS DOUBLE) AS y
  FROM orders GROUP BY 1
), slopes AS (
  SELECT (b.y - a.y) / (b.w - a.w) AS m
  FROM weekly a JOIN weekly b ON b.w > a.w
), med AS (
  SELECT quantile_cont(m, 0.5) AS ts_slope FROM slopes
), res AS (
  SELECT quantile_cont(y - (SELECT ts_slope FROM med) * w, 0.5)
           AS ts_intercept
  FROM weekly
)
SELECT CAST((SELECT COUNT(*) FROM weekly) AS BIGINT) AS n_weeks,
       CAST((SELECT COUNT(*) FROM slopes) AS BIGINT) AS n_pairs,
       ROUND((SELECT ts_slope FROM med), 9) AS ts_slope,
       ROUND((SELECT ts_intercept FROM res), 6) AS ts_intercept
""",
    doc="Theil-Sen robust trend of weekly revenue: median of all "
    "pairwise week-slopes (week-grain², calendar-bounded and "
    "SF-invariant, ~60k pairs) with median-residual intercept — the "
    "contamination-tolerant sibling of f26's OLS, on the shared "
    "interpolated quantile.",
)
def f46_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.expr(
            "datediff(o_orderdate, date'1995-01-01') div 7"
        ).alias("w")
    ).agg(
        F.sum(X.dec("o_totalprice"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("y")
    )
    # the week grain collapses to one partition after its aggregate;
    # re-spread the stream side so the grain² nested loop fans out
    # across cores (narrow rows, wide compute — the x5 rebalance)
    a = weekly.repartition(
        spark.sparkContext.defaultParallelism, "w"
    ).select(F.col("w").alias("wa"), F.col("y").alias("ya"))
    b = weekly.select(F.col("w").alias("wb"), F.col("y").alias("yb"))
    slopes = a.join(F.broadcast(b), F.col("wb") > F.col("wa")).select(
        ((F.col("yb") - F.col("ya")) / (F.col("wb") - F.col("wa"))).alias(
            "m"
        )
    )
    med = slopes.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.percentile("m", F.lit(0.5)).alias("ts_slope"),
    )
    with_m = weekly.crossJoin(F.broadcast(med))  # 1-row scalar
    return (
        with_m.agg(
            F.count("*").cast("bigint").alias("n_weeks"),
            F.first("n_pairs").alias("n_pairs"),
            F.round(F.first("ts_slope"), 9).alias("ts_slope"),
            F.round(
                F.percentile(
                    F.col("y") - F.col("ts_slope") * F.col("w"), F.lit(0.5)
                ),
                6,
            ).alias("ts_intercept"),
        )
        .select("n_weeks", "n_pairs", "ts_slope", "ts_intercept")
    )


# ---------------------------------------------------------------------------
# F48 — autocorrelation function (ACF, lags 1–14)
#
# f36 asserts weekly seasonality and f42 exploits it; the ACF is how
# you DISCOVER it — corr(y_t, y_{t−k}) per lag, where the lag-7/14
# spikes are the weekly signature. The daily series is rounded to
# exact integer dollars (decimal HALF_UP, identical both engines), so
# every moment of every lag is BIGINT (largest term n·Σxy ≈ 6e18,
# inside int64) and each lag's correlation divides identical
# integer-derived doubles. One day-grain relation, a 14-way lag
# explode, one equi-join on the offset day ordinal — grain-bounded
# throughout.
# ---------------------------------------------------------------------------

_F48_MAX_LAG = 14


@register(
    "f48_acf",
    oracle=f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y
  FROM orders GROUP BY 1
), lagged AS (
  SELECT l.lag, a.y AS x, b.y AS y
  FROM (SELECT unnest(range(1, {_F48_MAX_LAG} + 1)) AS lag) l
  JOIN daily a ON TRUE
  JOIN daily b ON b.d = a.d - l.lag
), s AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM lagged GROUP BY lag
)
SELECT lag, n AS n_pairs,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS acf
FROM s ORDER BY lag
""",
    doc="Autocorrelation of daily revenue at lags 1–14: integer-"
    "dollar series, BIGINT moments per lag (n·Σxy stays inside "
    "int64), per-lag Pearson over identical integer-derived doubles "
    "— the discovery tool behind f36's seasonality and f42's "
    "seasonal-naive forecast.",
)
def f48_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.round(
            F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0
        )
        .cast("bigint")
        .alias("y")
    )
    lags = spark.range(1, _F48_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("d") - F.col("lag")).alias("d_prev"), F.col("y").alias("x")
    )
    b = daily.select(F.col("d").alias("d_prev"), F.col("y").alias("y"))
    lagged = a.join(b, "d_prev")
    s = lagged.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        "lag",
        F.col("n").alias("n_pairs"),
        F.round(num / den, 6).alias("acf"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# F49 — one-way ANOVA (numeric-by-categorical association)
#
# f34's chi-square handles categorical×categorical and f38's MI the
# information view; the numeric-by-categorical question ("does doc
# length depend on source?") is ANOVA. Document lengths are exact
# integers, so every sum of squares is BIGINT algebra — SS_between =
# Σ_g n_g·(x̄_g − x̄)² computed WITHOUT means as Σ_g T_g²/n_g − T²/N
# over integer group totals (each ratio term 12dp-quantized once) —
# and F = (SS_b/df_b)/(SS_w/df_w) plus η² divide identical doubles.
# Two hash aggregates: group grain, then one row.
# ---------------------------------------------------------------------------


@register(
    "f49_anova_oneway",
    oracle="""
WITH g AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(n_chars) AS BIGINT) AS t_g,
         CAST(SUM(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS ss_g
  FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(t_g) AS BIGINT) AS t,
         CAST(SUM(ss_g) AS BIGINT) AS ss,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(ROUND(CAST(t_g AS DOUBLE) * t_g / n_g, 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS sum_tg2_ng
  FROM g
)
SELECT k AS n_groups, n AS n_docs,
       ROUND(sum_tg2_ng - CAST(t AS DOUBLE) * t / n, 6) AS ss_between,
       ROUND(CAST(ss AS DOUBLE) - sum_tg2_ng, 6) AS ss_within,
       ROUND(((sum_tg2_ng - CAST(t AS DOUBLE) * t / n) / (k - 1))
             / ((CAST(ss AS DOUBLE) - sum_tg2_ng) / (n - k)), 6)
         AS f_stat,
       ROUND((sum_tg2_ng - CAST(t AS DOUBLE) * t / n)
             / (CAST(ss AS DOUBLE) - CAST(t AS DOUBLE) * t / n), 6)
         AS eta_squared
FROM tot
""",
    doc="One-way ANOVA of document length by source: BIGINT group "
    "totals, sums of squares via Σ T_g²/n_g − T²/N with 12dp-"
    "quantized ratio terms, F statistic and η² effect size dividing "
    "identical doubles — the numeric-by-categorical member of the "
    "f33/f34/f38/f45 inference suite.",
)
def f49_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("n_chars").cast("bigint").alias("t_g"),
        F.sum(F.col("n_chars").cast("bigint") * F.col("n_chars"))
        .cast("bigint")
        .alias("ss_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("t_g").cast("bigint").alias("t"),
        F.sum("ss_g").cast("bigint").alias("ss"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(
            F.round(
                F.col("t_g").cast("double") * F.col("t_g") / F.col("n_g"),
                12,
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("sum_tg2_ng"),
    )
    nd = F.col("n").cast("double")
    ss_b = F.col("sum_tg2_ng") - F.col("t").cast("double") * F.col("t") / nd
    ss_w = F.col("ss").cast("double") - F.col("sum_tg2_ng")
    ss_t = F.col("ss").cast("double") - F.col("t").cast("double") * F.col(
        "t"
    ) / nd
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_docs"),
        F.round(ss_b, 6).alias("ss_between"),
        F.round(ss_w, 6).alias("ss_within"),
        F.round(
            (ss_b / (F.col("k") - 1)) / (ss_w / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
        F.round(ss_b / ss_t, 6).alias("eta_squared"),
    )


# ---------------------------------------------------------------------------
# F51 — changepoint detection (max cumulative-deviation statistic)
#
# f30 monitors DISTRIBUTION drift; this finds WHEN the level shifted:
# the classic nonparametric changepoint statistic D_k = |S_k −
# (k/n)·S_n| — the gap between the observed cumulative sum and the
# no-change diagonal — maximized over k (cf. CUSUM / Pettitt). The
# series is integer-dollar daily revenue (f48's contract), so every
# S_k is BIGINT; the diagonal term divides identical integers and the
# argmax resolves ties to the earliest day. Before/after means join
# the argmax row back via a broadcast scalar — no collect. Windows
# run on the calendar-bounded day grain only.
# ---------------------------------------------------------------------------


@register(
    "f51_changepoint",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y
  FROM orders GROUP BY 1
), cum AS (
  SELECT d, y,
         CAST(SUM(y) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS s_k,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS k
  FROM daily
), tot AS (
  SELECT CAST(SUM(y) AS BIGINT) AS s_n, CAST(COUNT(*) AS BIGINT) AS n
  FROM daily
), dev AS (
  SELECT c.d, c.k,
         ABS(CAST(c.s_k AS DOUBLE)
             - CAST(c.k AS DOUBLE) * t.s_n / t.n) AS d_k
  FROM cum c CROSS JOIN tot t
), peak AS (
  SELECT d AS cp_day, d_k AS d_max FROM dev
  ORDER BY d_k DESC, d ASC LIMIT 1
)
SELECT (SELECT n FROM tot) AS n_days,
       CAST(p.cp_day AS BIGINT) AS changepoint_day,
       ROUND(p.d_max, 4) AS d_max,
       ROUND(CAST(SUM(CASE WHEN daily.d <= p.cp_day THEN daily.y END)
                  AS DOUBLE)
             / COUNT(CASE WHEN daily.d <= p.cp_day THEN 1 END), 4)
         AS mean_before,
       ROUND(CAST(SUM(CASE WHEN daily.d > p.cp_day THEN daily.y END)
                  AS DOUBLE)
             / COUNT(CASE WHEN daily.d > p.cp_day THEN 1 END), 4)
         AS mean_after
FROM daily CROSS JOIN peak p
GROUP BY p.cp_day, p.d_max
""",
    doc="Changepoint detection: max cumulative-deviation statistic "
    "D_k = |S_k − (k/n)·S_n| over the integer-dollar daily series "
    "(BIGINT cumulative sums on the day grain, earliest-day argmax "
    "tiebreak), with broadcast-scalar before/after level means — "
    "finds WHEN the level shifted, beside f30's distributional "
    "drift.",
)
def f51_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.round(
            F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0
        )
        .cast("bigint")
        .alias("y")
    )
    # day-grain windows: calendar-bounded, safe by construction
    w = Window.orderBy("d")
    cum = daily.select(
        "d",
        "y",
        F.sum("y")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("s_k"),
        F.row_number().over(w).cast("bigint").alias("k"),
    )
    tot = daily.agg(
        F.sum("y").cast("bigint").alias("s_n"),
        F.count("*").cast("bigint").alias("n"),
    )
    dev = cum.crossJoin(F.broadcast(tot)).select(  # 1-row scalar
        "d",
        F.abs(
            F.col("s_k").cast("double")
            - F.col("k").cast("double") * F.col("s_n") / F.col("n")
        ).alias("d_k"),
        "n",
    )
    peak = (
        dev.orderBy(F.desc("d_k"), F.asc("d"))
        .limit(1)
        .select(F.col("d").alias("cp_day"), F.col("d_k").alias("d_max"))
    )
    with_peak = daily.crossJoin(F.broadcast(peak))  # 1-row scalar
    before = F.col("d") <= F.col("cp_day")
    return (
        with_peak.groupBy("cp_day", "d_max")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.round(
                F.sum(F.when(before, F.col("y"))).cast("double")
                / F.count(F.when(before, 1)),
                4,
            ).alias("mean_before"),
            F.round(
                F.sum(F.when(~before, F.col("y"))).cast("double")
                / F.count(F.when(~before, 1)),
                4,
            ).alias("mean_after"),
        )
        .select(
            "n_days",
            F.col("cp_day").cast("bigint").alias("changepoint_day"),
            F.round("d_max", 4).alias("d_max"),
            "mean_before",
            "mean_after",
        )
    )


# ---------------------------------------------------------------------------
# M10 — freshness SLA audit (staleness per table, one union scan set)
#
# The first page of every ops dashboard: how stale is each table
# against its SLA? Max event time per table vs an injected as-of
# constant (never now() — the determinism contract), lag in hours,
# verdict against a per-table SLA. min/max aggregates push to
# parquet footer statistics, so at 100 TB this reads metadata, not
# data.
# ---------------------------------------------------------------------------

_M10_ASOF_WH = "2001-08-03 00:00:00"  # warehouse clock
_M10_ASOF_EV = "2024-01-31 12:00:00"  # event-stream clock
_M10_SLA_H = {"orders": 72, "lineitem": 72, "events": 1}


@register(
    "m10_freshness_audit",
    oracle=f"""
WITH checks AS (
  SELECT 'orders' AS tbl,
         CAST((epoch_us(TIMESTAMP '{_M10_ASOF_WH}')
               - MAX(epoch_us(o_orderdate))) // 1000000 AS BIGINT) AS lag_s,
         72 AS sla_h
  FROM orders
  UNION ALL
  SELECT 'lineitem',
         CAST((epoch_us(TIMESTAMP '{_M10_ASOF_WH}')
               - MAX(epoch_us(l_shipdate))) // 1000000 AS BIGINT), 72
  FROM lineitem
  UNION ALL
  SELECT 'events',
         CAST((epoch_us(TIMESTAMP '{_M10_ASOF_EV}')
               - MAX(epoch_us(ts))) // 1000000 AS BIGINT), 1
  FROM events
)
SELECT tbl, lag_s,
       ROUND(CAST(lag_s AS DOUBLE) / 3600, 4) AS lag_hours,
       sla_h,
       CASE WHEN lag_s <= sla_h * 3600 THEN 1 ELSE 0 END AS within_sla
FROM checks ORDER BY tbl
""",
    doc="Freshness SLA audit: per-table max timestamp vs injected "
    "as-of clocks (no now()), staleness in seconds/hours, SLA "
    "verdict; max() pushes to parquet footer stats, so the audit "
    "reads metadata, not data.",
)
def m10_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.functions.datetime_ext import epoch_us

    wh_asof = F.lit(_M10_ASOF_WH).cast("timestamp_ntz")
    ev_asof = F.lit(_M10_ASOF_EV).cast("timestamp_ntz")

    def check(tbl, ts_col, asof, sla_h):
        t = table(spark, sf_dir, tbl)
        return t.agg(
            F.lit(tbl).alias("tbl"),
            ((epoch_us(asof) - F.max(epoch_us(ts_col))) / 1_000_000)
            .cast("bigint")
            .alias("lag_s"),
            F.lit(sla_h).alias("sla_h"),
        )

    checks = (
        check("orders", "o_orderdate", wh_asof, 72)
        .unionByName(check("lineitem", "l_shipdate", wh_asof, 72))
        .unionByName(check("events", "ts", ev_asof, 1))
    )
    return checks.select(
        "tbl",
        "lag_s",
        F.round(F.col("lag_s").cast("double") / 3600, 4).alias("lag_hours"),
        "sla_h",
        F.when(F.col("lag_s") <= F.col("sla_h") * 3600, 1)
        .otherwise(0)
        .alias("within_sla"),
    ).orderBy("tbl")


# ---------------------------------------------------------------------------
# F52 — seasonal-strength index (STL-lite variance decomposition)
#
# f36 SHOWS the day-of-week profile; this scores HOW MUCH of the
# variance it explains — Hyndman's seasonal-strength F_s = max(0,
# 1 − Var(remainder)/Var(detrended)): trend = centered 7-day mean
# (same ROWS frame semantics both engines, partial at the edges),
# detrended = y − trend, seasonal = day-of-week mean of detrended
# (dow = day-ordinal mod 7, engine-neutral integer — never the
# engines' differing dayofweek() conventions), remainder = detrended
# − seasonal. Every squared term quantizes once to 12dp DECIMAL; the
# variance ratio divides identical doubles. Day-grain windows only.
# ---------------------------------------------------------------------------


@register(
    "f52_seasonal_strength",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y
  FROM orders GROUP BY 1
), trended AS (
  SELECT d, y,
         CAST(y AS DOUBLE)
           - AVG(CAST(y AS DOUBLE)) OVER (ORDER BY d
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS det
  FROM daily
), seasonal AS (
  SELECT d % 7 AS dow, AVG(det) AS s FROM trended GROUP BY d % 7
), scored AS (
  SELECT t.det, t.det - s.s AS rem
  FROM trended t JOIN seasonal s ON s.dow = t.d % 7
), moments AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(det, 3) AS DECIMAL(38,3))) AS DOUBLE)
           AS sd,
         CAST(SUM(CAST(ROUND(det * det, 0) AS DECIMAL(38,0))) AS DOUBLE)
           AS sdd,
         CAST(SUM(CAST(ROUND(rem, 3) AS DECIMAL(38,3))) AS DOUBLE) AS sr,
         CAST(SUM(CAST(ROUND(rem * rem, 0) AS DECIMAL(38,0))) AS DOUBLE)
           AS srr
  FROM scored
)
SELECT n AS n_days,
       sdd / n - (sd / n) * (sd / n) AS var_detrended,
       srr / n - (sr / n) * (sr / n) AS var_remainder,
       ROUND(GREATEST(0.0,
             1.0 - (srr / n - (sr / n) * (sr / n))
                   / (sdd / n - (sd / n) * (sd / n))), 6)
         AS seasonal_strength
FROM moments
""",
    doc="Seasonal-strength index (Hyndman F_s): centered 7-day trend, "
    "dow = day-ordinal mod 7 seasonal means (engine-neutral, never "
    "dayofweek()), F_s = max(0, 1 − Var(remainder)/Var(detrended)) "
    "with 2^53-safe quantized moments — scores how much variance f36's "
    "profile explains.",
)
def f52_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.round(
            F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0
        )
        .cast("bigint")
        .alias("y")
    )
    # day-grain window: calendar-bounded, safe by construction
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        (
            F.col("y").cast("double")
            - F.avg(F.col("y").cast("double")).over(w)
        ).alias("det"),
    )
    seasonal = trended.groupBy((F.col("d") % 7).alias("dow")).agg(
        F.avg("det").alias("s")
    )
    scored = trended.join(
        F.broadcast(seasonal), (F.col("d") % 7) == F.col("dow")
    ).select("det", (F.col("det") - F.col("s")).alias("rem"))

    # quantization scales keep every decimal's UNSCALED value < 2^53,
    # so the decimal->double cast is exact in both engines (a 12dp
    # scale on 1e12-magnitude squared sums was 1 ulp off at sf0.1)
    m = scored.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.round(F.col("det"), 3).cast("decimal(38,3)"))
        .cast("double")
        .alias("sd"),
        F.sum(F.round(F.col("det") * F.col("det"), 0).cast("decimal(38,0)"))
        .cast("double")
        .alias("sdd"),
        F.sum(F.round(F.col("rem"), 3).cast("decimal(38,3)"))
        .cast("double")
        .alias("sr"),
        F.sum(F.round(F.col("rem") * F.col("rem"), 0).cast("decimal(38,0)"))
        .cast("double")
        .alias("srr"),
    )
    nd = F.col("n").cast("double")
    var_d = F.col("sdd") / nd - (F.col("sd") / nd) * (F.col("sd") / nd)
    var_r = F.col("srr") / nd - (F.col("sr") / nd) * (F.col("sr") / nd)
    return m.select(
        F.col("n").alias("n_days"),
        # no display rounding: at 1e12 magnitude a 3dp round is
        # sub-ulp and implementation-divergent; the raw doubles are
        # bit-identical by construction
        var_d.alias("var_detrended"),
        var_r.alias("var_remainder"),
        F.round(F.greatest(F.lit(0.0), F.lit(1.0) - var_r / var_d), 6).alias(
            "seasonal_strength"
        ),
    )


# ---------------------------------------------------------------------------
# F53 — grouped log-log regression (price elasticity per part type)
#
# f26 fits ONE model; a warehouse fits thousands in one pass — here
# elasticity (d ln qty / d ln price) per part type, the grouped-OLS
# shape where every group's moments accumulate in the same hash
# aggregate. Unit price and quantity are positive, their logs
# quantize once to integer 1e-4 nats (products bounded well inside
# int64 per group), and each group's slope/intercept/r² divide
# identical BIGINT-derived doubles. One join to the part dimension
# (broadcast), one grouped aggregate — no per-group jobs.
# ---------------------------------------------------------------------------

_F53_LNQ = 10_000


@register(
    "f53_grouped_elasticity",
    oracle=f"""
WITH obs AS (
  SELECT p.p_type AS ptype,
         CAST(ROUND(LN(CAST(l.l_extendedprice AS DOUBLE) / l.l_quantity)
                    * {_F53_LNQ}) AS BIGINT) AS lx,
         CAST(ROUND(LN(CAST(l.l_quantity AS DOUBLE)) * {_F53_LNQ})
              AS BIGINT) AS ly
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
), s AS (
  SELECT ptype, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
         CAST(SUM(lx * ly) AS BIGINT) AS sxy,
         CAST(SUM(lx * lx) AS BIGINT) AS sxx,
         CAST(SUM(ly * ly) AS BIGINT) AS syy
  FROM obs GROUP BY ptype
)
SELECT ptype, n,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6)
         AS elasticity,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
         AS r2
FROM s ORDER BY ptype
""",
    doc="Grouped log-log OLS: price elasticity of demand per part "
    "type — logs quantized to integer 1e-4 nats, per-group BIGINT "
    "moments in ONE hash aggregate (thousands of models in one "
    "pass), slope and r² dividing identical integer-derived "
    "doubles; the grouped sibling of f26.",
)
def f53_grouped_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    obs = l.join(F.broadcast(p), p.p_partkey == l.l_partkey).select(
        F.col("p_type").alias("ptype"),
        F.round(
            F.log(
                F.col("l_extendedprice").cast("double")
                / F.col("l_quantity")
            )
            * _F53_LNQ
        )
        .cast("bigint")
        .alias("lx"),
        F.round(F.log(F.col("l_quantity").cast("double")) * _F53_LNQ)
        .cast("bigint")
        .alias("ly"),
    )
    s = obs.groupBy("ptype").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("lx").cast("bigint").alias("sx"),
        F.sum("ly").cast("bigint").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("bigint").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("bigint").alias("sxx"),
        F.sum(F.col("ly") * F.col("ly")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den_x = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    den_y = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    return s.select(
        "ptype",
        "n",
        F.round(num / den_x, 6).alias("elasticity"),
        F.round(num * num / (den_x * den_y), 6).alias("r2"),
    ).orderBy("ptype")


# ---------------------------------------------------------------------------
# F54 — runs test (Wald–Wolfowitz randomness of daily moves)
#
# Is the revenue series a random walk or does it trend/mean-revert?
# The runs test answers without distributional assumptions: code each
# day as up/down vs the previous day (zero moves dropped — both
# engines identically), count RUNS of consecutive same-sign moves via
# a LAG comparison on the day grain, and compare against the expected
# run count E[R] = 2·n₊·n₋/n + 1 with the classic variance. Counts
# are exact BIGINTs; z divides identical integer-derived doubles.
# Fewer runs than expected ⇒ momentum; more ⇒ mean reversion.
# ---------------------------------------------------------------------------


@register(
    "f54_runs_test",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y
  FROM orders GROUP BY 1
), moves AS (
  SELECT d,
         CASE WHEN y > LAG(y) OVER (ORDER BY d) THEN 1
              WHEN y < LAG(y) OVER (ORDER BY d) THEN -1 END AS sgn
  FROM daily
), runsrc AS (
  SELECT d, sgn,
         CASE WHEN LAG(sgn) OVER (ORDER BY d) IS NULL
                   OR sgn != LAG(sgn) OVER (ORDER BY d)
              THEN 1 ELSE 0 END AS is_new_run
  FROM (SELECT d, sgn FROM moves WHERE sgn IS NOT NULL)
), s AS (
  SELECT CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
         CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_down,
         CAST(SUM(is_new_run) AS BIGINT) AS n_runs
  FROM runsrc
)
SELECT n_up, n_down, n_runs,
       ROUND(2.0 * n_up * n_down / (n_up + n_down) + 1, 6)
         AS expected_runs,
       ROUND((n_runs - (2.0 * n_up * n_down / (n_up + n_down) + 1))
             / SQRT(2.0 * n_up * n_down
                    * (2.0 * n_up * n_down - n_up - n_down)
                    / ((CAST(n_up + n_down AS DOUBLE))
                       * (CAST(n_up + n_down AS DOUBLE))
                       * (n_up + n_down - 1))), 6) AS z_score
FROM s
""",
    doc="Wald–Wolfowitz runs test on daily revenue moves: up/down "
    "coding vs the previous day (zeros dropped), run starts via a "
    "LAG comparison on the day grain, exact BIGINT counts, z against "
    "E[R] = 2n₊n₋/n + 1 — momentum vs mean-reversion without "
    "distributional assumptions.",
)
def f54_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.round(
            F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0
        )
        .cast("bigint")
        .alias("y")
    )
    # day-grain windows: calendar-bounded, safe by construction
    w = Window.orderBy("d")
    moves = daily.select(
        "d",
        F.when(F.col("y") > F.lag("y").over(w), 1)
        .when(F.col("y") < F.lag("y").over(w), -1)
        .alias("sgn"),
    ).filter(F.col("sgn").isNotNull())
    runsrc = moves.select(
        "sgn",
        F.when(
            F.lag("sgn").over(w).isNull()
            | (F.col("sgn") != F.lag("sgn").over(w)),
            1,
        )
        .otherwise(0)
        .alias("is_new_run"),
    )
    s = runsrc.agg(
        F.sum(F.when(F.col("sgn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
        F.sum(F.when(F.col("sgn") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_down"),
        F.sum("is_new_run").cast("bigint").alias("n_runs"),
    )
    nu = F.col("n_up").cast("double")
    nd_ = F.col("n_down").cast("double")
    n = nu + nd_
    exp_r = 2.0 * nu * nd_ / n + 1
    var_r = (
        2.0 * nu * nd_ * (2.0 * nu * nd_ - nu - nd_) / (n * n * (n - 1))
    )
    return s.select(
        "n_up",
        "n_down",
        "n_runs",
        F.round(exp_r, 6).alias("expected_runs"),
        F.round((F.col("n_runs") - exp_r) / F.sqrt(var_r), 6).alias(
            "z_score"
        ),
    )


# ---------------------------------------------------------------------------
# G20 — local-extrema census (peak/trough days on the revenue series)
#
# The alerting primitive behind spike detection: a day is a PEAK when
# it exceeds both neighbors, a TROUGH when below both (strict on the
# left, weak on the right — plateau edges resolve identically in both
# engines). LAG/LEAD on the calendar-bounded day grain, exact integer
# comparisons, per-kind census with the most extreme day (value, then
# earliest-day tiebreak).
# ---------------------------------------------------------------------------


@register(
    "g20_peak_census",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y
  FROM orders GROUP BY 1
), flagged AS (
  SELECT d, y,
         CASE WHEN y > LAG(y) OVER w AND y >= LEAD(y) OVER w THEN 'peak'
              WHEN y < LAG(y) OVER w AND y <= LEAD(y) OVER w THEN 'trough'
         END AS kind
  FROM daily WINDOW w AS (ORDER BY d)
), ranked AS (
  SELECT kind, d, y,
         ROW_NUMBER() OVER (
           PARTITION BY kind
           ORDER BY CASE WHEN kind = 'peak' THEN -y ELSE y END, d) AS rn
  FROM flagged WHERE kind IS NOT NULL
)
SELECT kind,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MIN(CASE WHEN rn = 1 THEN d END) AS BIGINT) AS best_day,
       CAST(MIN(CASE WHEN rn = 1 THEN y END) AS BIGINT) AS best_value
FROM ranked
GROUP BY kind
ORDER BY kind
""",
    doc="Local-extrema census: peak (above both neighbors) and trough "
    "(below both) days on the integer-dollar series — strict-left / "
    "weak-right plateau rule, LAG/LEAD on the day grain, per-kind "
    "count with the most extreme day; the spike-alerting primitive.",
)
def g20_peak_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.round(
            F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0
        )
        .cast("bigint")
        .alias("y")
    )
    # day-grain windows: calendar-bounded, safe by construction
    w = Window.orderBy("d")
    flagged = daily.select(
        "d",
        "y",
        F.when(
            (F.col("y") > F.lag("y").over(w))
            & (F.col("y") >= F.lead("y").over(w)),
            "peak",
        )
        .when(
            (F.col("y") < F.lag("y").over(w))
            & (F.col("y") <= F.lead("y").over(w)),
            "trough",
        )
        .alias("kind"),
    ).filter(F.col("kind").isNotNull())
    rank_key = F.when(F.col("kind") == "peak", -F.col("y")).otherwise(
        F.col("y")
    )
    w_rank = Window.partitionBy("kind").orderBy(rank_key, F.asc("d"))
    ranked = flagged.withColumn("rn", F.row_number().over(w_rank))
    return (
        ranked.groupBy("kind")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.min(F.when(F.col("rn") == 1, F.col("d")))
            .cast("bigint")
            .alias("best_day"),
            F.min(F.when(F.col("rn") == 1, F.col("y")))
            .cast("bigint")
            .alias("best_value"),
        )
        .orderBy("kind")
    )


# ---------------------------------------------------------------------------
# M11 — join-cardinality estimation audit (the optimizer's own math)
#
# Catalyst sizes joins from per-column histograms with a uniformity
# assumption inside each bucket: |A ⋈ B| ≈ Σ_b rows_A(b)·rows_B(b) /
# max(ndv_A(b), ndv_B(b)). This query RUNS that textbook estimate on
# 32 hash buckets of the orders⋈customer key and audits it against
# the exact join count — the measurable gap between histogram math
# and reality that motivates m5's skew audit. Per-bucket terms are
# exact integers with one 12dp-quantized division each; the relative
# error divides identical doubles.
# ---------------------------------------------------------------------------

_M11_BUCKETS = 32


@register(
    "m11_join_cardinality_audit",
    oracle=f"""
WITH a AS (
  SELECT o_custkey % {_M11_BUCKETS} AS b,
         CAST(COUNT(*) AS BIGINT) AS rows_a,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv_a
  FROM orders GROUP BY 1
), c AS (
  SELECT c_custkey % {_M11_BUCKETS} AS b,
         CAST(COUNT(*) AS BIGINT) AS rows_c,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS ndv_c
  FROM customer GROUP BY 1
), est AS (
  SELECT CAST(SUM(CAST(ROUND(CAST(rows_a AS DOUBLE) * rows_c
                             / GREATEST(ndv_a, ndv_c), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS est_rows,
         CAST(COUNT(*) AS BIGINT) AS n_buckets
  FROM a JOIN c USING (b)
), act AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
  FROM orders JOIN customer ON c_custkey = o_custkey
)
SELECT n_buckets, actual_rows,
       ROUND(est_rows, 4) AS estimated_rows,
       ROUND((est_rows - actual_rows) / actual_rows, 6) AS rel_error
FROM est CROSS JOIN act
""",
    doc="Join-cardinality estimation audit: the textbook histogram "
    "estimate Σ rows_A·rows_B / max(ndv_A, ndv_B) over 32 hash "
    "buckets vs the exact orders⋈customer count — the measurable gap "
    "between optimizer math and reality that motivates m5's skew "
    "audit.",
)
def m11_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    a = o.groupBy((F.col("o_custkey") % _M11_BUCKETS).alias("b")).agg(
        F.count("*").cast("bigint").alias("rows_a"),
        F.countDistinct("o_custkey").cast("bigint").alias("ndv_a"),
    )
    cc = c.groupBy((F.col("c_custkey") % _M11_BUCKETS).alias("b")).agg(
        F.count("*").cast("bigint").alias("rows_c"),
        F.countDistinct("c_custkey").cast("bigint").alias("ndv_c"),
    )
    est = (
        a.join(cc, "b")
        .agg(
            F.sum(
                F.round(
                    F.col("rows_a").cast("double")
                    * F.col("rows_c")
                    / F.greatest("ndv_a", "ndv_c"),
                    12,
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("est_rows"),
            F.count("*").cast("bigint").alias("n_buckets"),
        )
    )
    act = (
        o.join(c, c.c_custkey == o.o_custkey)
        .agg(F.count("*").cast("bigint").alias("actual_rows"))
    )
    return (
        est.crossJoin(F.broadcast(act))  # 1-row scalar
        .select(
            "n_buckets",
            "actual_rows",
            F.round("est_rows", 4).alias("estimated_rows"),
            F.round(
                (F.col("est_rows") - F.col("actual_rows"))
                / F.col("actual_rows"),
                6,
            ).alias("rel_error"),
        )
    )


# ---------------------------------------------------------------------------
# F55 — Laspeyres / Paasche / Fisher price index (yearly, base 1996)
#
# The bilateral index-number triple over the lineitem fact: per-part
# yearly unit values p_t(i) = Σprice/Σqty, then against the base year
# basket L_t = Σ p_t·q_0 / Σ p_0·q_0 (base-weighted), P_t = Σ p_t·q_t /
# Σ p_0·q_t (current-weighted), and Fisher's ideal index √(L·P) —
# the standard CPI construction (Fisher 1922), restricted to the
# common basket (parts traded in both years).
#
# Cross-engine determinism: the unit value is ONE IEEE division of a
# <2^53-exact decimal sum by an integral quantity sum, quantized to
# 1e-4 price units (BIGINT); index numerators/denominators are exact
# DECIMAL(38,0) sums of pm·q products (never the 38-digit cap: pm ≤
# 1e9, q bounded by yearly part volume); ratios and √ are single
# correctly-rounded IEEE ops on identical operands.
#
# Scale: two shuffles — the (year, partkey) aggregate and the partkey
# self-join against the base year — then a years-sized output. The
# base-year side is data-sized (all parts), so the join stays a
# shuffle join on partkey; no window, no driver loop.
# ---------------------------------------------------------------------------

_F55_BASE_YEAR = 1996


@register(
    "f55_fisher_price_index",
    oracle=f"""
WITH py AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr, l_partkey,
         CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                         AS DOUBLE)
                    / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                    * 1e4) AS BIGINT) AS pm,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), base AS (
  SELECT l_partkey, pm AS pm0, q AS q0 FROM py
  WHERE yr = {_F55_BASE_YEAR}
), j AS (
  SELECT t.yr, t.pm, t.q, b.pm0, b.q0
  FROM py t JOIN base b ON t.l_partkey = b.l_partkey
)
SELECT yr, COUNT(*) AS n_parts,
       CAST(SUM(CAST(pm AS DECIMAL(19,0)) * q0) AS DOUBLE)
         / CAST(SUM(CAST(pm0 AS DECIMAL(19,0)) * q0) AS DOUBLE)
         AS laspeyres,
       CAST(SUM(CAST(pm AS DECIMAL(19,0)) * q) AS DOUBLE)
         / CAST(SUM(CAST(pm0 AS DECIMAL(19,0)) * q) AS DOUBLE)
         AS paasche,
       SQRT((CAST(SUM(CAST(pm AS DECIMAL(19,0)) * q0) AS DOUBLE)
             / CAST(SUM(CAST(pm0 AS DECIMAL(19,0)) * q0) AS DOUBLE))
            * (CAST(SUM(CAST(pm AS DECIMAL(19,0)) * q) AS DOUBLE)
               / CAST(SUM(CAST(pm0 AS DECIMAL(19,0)) * q) AS DOUBLE)))
         AS fisher
FROM j GROUP BY yr ORDER BY yr
""",
    doc="Yearly Laspeyres/Paasche/Fisher price indices vs a constant "
    "base year over the common part basket: 1e-4-quantized unit "
    "values, exact DECIMAL(38,0) basket sums, single-IEEE-op ratios "
    "and sqrt — the CPI construction as a two-shuffle relational "
    "plan.",
)
def f55_fisher_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    py = li.groupBy(
        F.year("l_shipdate").cast("bigint").alias("yr"),
        "l_partkey",
    ).agg(
        F.round(
            F.sum(X.dec("l_extendedprice")).cast("double")
            / F.sum(F.col("l_quantity").cast("bigint")).cast("double")
            * 1e4
        )
        .cast("bigint")
        .alias("pm"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"),
    )
    base = py.filter(F.col("yr") == _F55_BASE_YEAR).select(
        "l_partkey",
        F.col("pm").alias("pm0"),
        F.col("q").alias("q0"),
    )
    j = py.join(base, "l_partkey")
    pmd = F.col("pm").cast("decimal(19,0)")
    pm0d = F.col("pm0").cast("decimal(19,0)")
    num_l = F.sum(pmd * F.col("q0")).cast("double")
    den_l = F.sum(pm0d * F.col("q0")).cast("double")
    num_p = F.sum(pmd * F.col("q")).cast("double")
    den_p = F.sum(pm0d * F.col("q")).cast("double")
    return (
        j.groupBy("yr")
        .agg(
            F.count("*").alias("n_parts"),
            (num_l / den_l).alias("laspeyres"),
            (num_p / den_p).alias("paasche"),
            F.sqrt((num_l / den_l) * (num_p / den_p)).alias("fisher"),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# F57 — Hill tail-index estimator (heavy-tail audit)
#
# How heavy is the order-value tail? The Hill (1975) estimator over
# the top-k order statistics: H = (1/k) Σ ln(X_(i) / X_(k+1)),
# tail index α = 1/H — the standard peaks-over-threshold readout
# (α < 2 ⇒ infinite variance, Pareto-like revenue concentration).
#
# Cross-engine determinism: the top-(k+1) cut is a total order
# (price DESC, orderkey ASC), each log ratio is ln of one IEEE
# division of identical doubles, quantized to integer nano-nats
# before the sum; H and α are single divisions of exact integers
# cast to double.
#
# Scale: TakeOrderedAndProject ships k+1 = 201 rows to one task —
# the ONLY single-partition step is over that constant-size relation
# (documented bounded window), everything before it is a parallel
# top-k reduction.
# ---------------------------------------------------------------------------

_F57_K = 200


@register(
    "f57_hill_tail_index",
    oracle=f"""
WITH top AS (
  SELECT o_totalprice, o_orderkey,
         ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC)
           AS rn
  FROM orders
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT {_F57_K + 1}
), thresh AS (
  SELECT o_totalprice AS xk1 FROM top WHERE rn = {_F57_K + 1}
), terms AS (
  SELECT CAST(ROUND(LN(t.o_totalprice / th.xk1) * 1e9) AS BIGINT) AS ln_nano
  FROM top t CROSS JOIN thresh th
  WHERE t.rn <= {_F57_K}
)
SELECT {_F57_K} AS k,
       (SELECT xk1 FROM thresh) AS x_threshold,
       CAST(SUM(ln_nano) AS DOUBLE) / {_F57_K}e9 AS hill_h,
       {_F57_K}e9 / CAST(SUM(ln_nano) AS DOUBLE) AS tail_alpha
FROM terms
""",
    doc="Hill tail-index over the top-200 order values: nano-nat-"
    "quantized log ratios against the (k+1)-th order statistic, "
    "H and alpha as single exact-integer divisions — the heavy-tail "
    "variance-exists audit for revenue distributions.",
)
def f57_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    top = (
        o.select("o_totalprice", "o_orderkey")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(_F57_K + 1)
    )
    # constant-size relation (201 rows): the global window is bounded
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    ranked = top.withColumn("rn", F.row_number().over(w))
    thresh = ranked.filter(F.col("rn") == _F57_K + 1).select(
        F.col("o_totalprice").alias("xk1")
    )
    terms = (
        ranked.filter(F.col("rn") <= _F57_K)
        .crossJoin(F.broadcast(thresh))  # 1-row scalar
        .select(
            F.round(F.log(F.col("o_totalprice") / F.col("xk1")) * 1e9)
            .cast("bigint")
            .alias("ln_nano"),
            "xk1",
        )
    )
    return terms.agg(
        F.lit(_F57_K).alias("k"),
        F.first("xk1").alias("x_threshold"),
        (F.sum("ln_nano").cast("double") / F.lit(_F57_K * 1e9)).alias("hill_h"),
        (F.lit(_F57_K * 1e9) / F.sum("ln_nano").cast("double")).alias(
            "tail_alpha"
        ),
    )


# ---------------------------------------------------------------------------
# I4 — multiset set operations (INTERSECT ALL / EXCEPT ALL)
#
# i2 covers the DISTINCT set operators; the *_ALL variants are a
# different operator family with BAG semantics — INTERSECT ALL keeps
# min(multiplicity), EXCEPT ALL subtracts multiplicities — which is
# what order-frequency comparisons actually need (a customer with 3
# orders in 1997 and 1 in 1998 contributes 1 to the intersection and
# 2 to the surplus, not 1/0). Spark plans these as a multiplicity
# groupBy + generate, fully parallel on the key shuffle.
#
# Output is a 2-row census (op, row count, key checksum) so the
# checked surface is stable while the bag arithmetic is fully
# exercised.
# ---------------------------------------------------------------------------


@register(
    "i4_multiset_ops",
    oracle="""
WITH a AS (
  SELECT o_custkey AS ck FROM orders WHERE year(o_orderdate) = 1997
), b AS (
  SELECT o_custkey AS ck FROM orders WHERE year(o_orderdate) = 1998
)
SELECT 'intersect_all' AS op, COUNT(*) AS n_rows,
       CAST(COALESCE(SUM(ck), 0) AS BIGINT) AS key_checksum
FROM (SELECT ck FROM a INTERSECT ALL SELECT ck FROM b)
UNION ALL
SELECT 'except_all' AS op, COUNT(*) AS n_rows,
       CAST(COALESCE(SUM(ck), 0) AS BIGINT) AS key_checksum
FROM (SELECT ck FROM a EXCEPT ALL SELECT ck FROM b)
ORDER BY op
""",
    doc="Bag-semantics set operators: INTERSECT ALL (min multiplicity) "
    "and EXCEPT ALL (multiplicity surplus) of 1997-vs-1998 customer "
    "order multisets, censused as row counts + key checksums — the "
    "*_ALL family i2's DISTINCT operators don't cover.",
)
def i4_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    a = o.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("ck")
    )
    b = o.filter(F.year("o_orderdate") == 1998).select(
        F.col("o_custkey").alias("ck")
    )

    def census(df: DataFrame, op: str) -> DataFrame:
        return df.agg(
            F.lit(op).alias("op"),
            F.count("*").alias("n_rows"),
            F.coalesce(F.sum("ck"), F.lit(0)).cast("bigint").alias(
                "key_checksum"
            ),
        )

    return (
        census(a.intersectAll(b), "intersect_all")
        .unionByName(census(a.exceptAll(b), "except_all"))
        .orderBy("op")
    )


# ---------------------------------------------------------------------------
# F59 — Gumbel block-maxima fit (extreme-value companion to f57)
#
# f57 measures the tail's power-law index; extreme-value theory's
# other workhorse is the BLOCK-MAXIMA fit: take each month's maximum
# daily revenue and fit a Gumbel distribution by method of moments
# (β̂ = s·√6/π, μ̂ = x̄ − γβ̂, Coles 2001 §3), then read off the
# 100-month return level μ̂ − β̂·ln(−ln(0.99)) — the "how big a day
# should we provision for" number.
#
# Cross-engine determinism: daily sums are exact decimals; monthly
# maxima are decimal MAX (order-free); the mean is one IEEE division
# of a <2^53-exact decimal sum; squared deviations are quantized to
# centi-units in a DECIMAL(38,0) accumulator (order-free at any SF —
# squared revenue deviations overflow BIGINT); γ, π and
# −ln(−ln(0.99)) are repr-inlined double literals, so every
# downstream op is correctly-rounded IEEE arithmetic in identical
# order (√ included).
#
# Scale: one day-grain aggregate (data-sized shuffle), then month
# grain (calendar-bounded) — no global window anywhere.
# ---------------------------------------------------------------------------

_F59_GAMMA = 0.5772156649015329  # Euler–Mascheroni, repr-inlined
_F59_PI = 3.141592653589793
_F59_RL99 = 4.600149226776579  # −ln(−ln(0.99)), repr-inlined


@register(
    "f59_gumbel_block_maxima",
    oracle=f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
           AS rev
  FROM orders GROUP BY 1
), monthly AS (
  SELECT date_trunc('month', d) AS mo,
         CAST(MAX(rev) AS DOUBLE) AS mx
  FROM daily GROUP BY 1
), mom AS (
  SELECT COUNT(*) AS k,
         CAST(SUM(CAST(mx AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*) AS mean_mx
  FROM monthly
), dev AS (
  SELECT k, mean_mx,
         CAST(SUM(CAST(ROUND((mx - mean_mx) * (mx - mean_mx) * 1e2)
                       AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss_centi
  FROM monthly CROSS JOIN mom
  GROUP BY k, mean_mx
)
SELECT k AS n_months, mean_mx AS mean_max,
       CAST(ss_centi AS DOUBLE) / ((k - 1) * 1e2) AS var_max,
       SQRT(CAST(ss_centi AS DOUBLE) / ((k - 1) * 1e2))
         * SQRT(6.0) / {_F59_PI!r} AS gumbel_beta,
       mean_mx - {_F59_GAMMA!r}
         * (SQRT(CAST(ss_centi AS DOUBLE) / ((k - 1) * 1e2))
            * SQRT(6.0) / {_F59_PI!r}) AS gumbel_mu,
       mean_mx - {_F59_GAMMA!r}
         * (SQRT(CAST(ss_centi AS DOUBLE) / ((k - 1) * 1e2))
            * SQRT(6.0) / {_F59_PI!r})
       + (SQRT(CAST(ss_centi AS DOUBLE) / ((k - 1) * 1e2))
          * SQRT(6.0) / {_F59_PI!r}) * {_F59_RL99!r} AS return_level_p99
FROM dev
""",
    doc="Gumbel block-maxima fit over monthly maxima of exact daily "
    "revenue: method-of-moments location/scale with micro-quantized "
    "deviations and repr-inlined γ/π constants, plus the 1-in-100 "
    "return level — extreme-value provisioning beside f57's Hill "
    "index.",
)
def f59_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(X.dec("o_totalprice")).cast("decimal(38,2)").alias("rev")
    )
    monthly = daily.groupBy(F.date_trunc("month", "d").alias("mo")).agg(
        F.max("rev").cast("double").alias("mx")
    )
    mom = monthly.agg(
        F.count("*").alias("k"),
        (F.sum(F.col("mx").cast("decimal(38,2)")).cast("double") / F.count("*"))
        .alias("mean_mx"),
    )
    dev = (
        monthly.crossJoin(F.broadcast(mom))  # 1-row scalar
        .groupBy("k", "mean_mx")
        .agg(
            F.sum(
                F.round(
                    (F.col("mx") - F.col("mean_mx"))
                    * (F.col("mx") - F.col("mean_mx"))
                    * 1e2
                ).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("ss_centi")
        )
    )
    var = F.col("ss_centi").cast("double") / ((F.col("k") - 1) * F.lit(1e2))
    beta = F.sqrt(var) * F.sqrt(F.lit(6.0)) / F.lit(_F59_PI)
    mu = F.col("mean_mx") - F.lit(_F59_GAMMA) * beta
    return dev.select(
        F.col("k").alias("n_months"),
        F.col("mean_mx").alias("mean_max"),
        var.alias("var_max"),
        beta.alias("gumbel_beta"),
        mu.alias("gumbel_mu"),
        (mu + beta * F.lit(_F59_RL99)).alias("return_level_p99"),
    )


# ---------------------------------------------------------------------------
# F60 — Mann–Kendall trend test on daily revenue
#
# The nonparametric complement to f46's Theil–Sen slope (which only
# ESTIMATES the trend) and f54's runs test (which detects serial
# dependence, not monotone drift): S = Σ_{i<j} sign(y_j − y_i) over
# the day-grain revenue series, tie-corrected variance
# V = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18, continuity-corrected
# z = (S∓1)/√V. |z| > 1.96 ⇒ a monotone trend at α = 0.05 with no
# distributional assumption — the standard pre-check before fitting
# f26/f46 slopes.
#
# The pairwise join runs on the DAY grain: its size is bounded by the
# calendar span squared (~2.4k days → 2.9M sign evaluations), not by
# data volume, so it is scale-safe by construction — 100 TB adds rows
# per day, not days. Revenue is the f54 integer-cents convention, so
# every sign() and tie group is exact integer arithmetic.
# ---------------------------------------------------------------------------


@register(
    "f60_mann_kendall",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                       WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
           AS s_stat
  FROM daily a JOIN daily b ON a.d < b.d
), ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tt
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily
        GROUP BY y HAVING COUNT(*) > 1)
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
SELECT n_days, s_stat,
       ROUND((n_days * (n_days - 1) * (2 * n_days + 5) - tt) / 18.0, 4)
         AS var_s,
       ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1)
                    / SQRT((n_days * (n_days - 1) * (2 * n_days + 5) - tt)
                           / 18.0)
                  WHEN s_stat < 0 THEN (s_stat + 1)
                    / SQRT((n_days * (n_days - 1) * (2 * n_days + 5) - tt)
                           / 18.0)
                  ELSE 0.0 END, 6) AS z_score
FROM n CROSS JOIN s CROSS JOIN ties
""",
    doc="Mann–Kendall trend test: S = pairwise sign sum over the "
    "day-grain revenue series (calendar-bounded quadratic), "
    "tie-corrected variance, continuity-corrected z — the "
    "distribution-free monotone-trend gate ahead of f26/f46 slope "
    "fits.",
)
def f60_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.round(F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0)
        .cast("bigint")
        .alias("y")
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(b, F.col("a.d") < F.col("b.d"))
        .agg(
            F.sum(
                F.when(F.col("b.y") > F.col("a.y"), 1)
                .when(F.col("b.y") < F.col("a.y"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("y")
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tt")
        )
    )
    n = daily.agg(F.count("*").cast("bigint").alias("n_days"))
    # three 1-row scalars — broadcast crossJoins by construction
    joined = n.crossJoin(F.broadcast(s)).crossJoin(F.broadcast(ties))
    var_num = (
        F.col("n_days")
        * (F.col("n_days") - 1)
        * (2 * F.col("n_days") + 5)
        - F.col("tt")
    )
    var_s = var_num / F.lit(18.0)
    z = (
        F.when(
            F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(var_s)
        )
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return joined.select(
        "n_days",
        "s_stat",
        F.round(var_s, 4).alias("var_s"),
        F.round(z, 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# F61 — Spearman rank correlation (distributed average ranks)
#
# r7 cross-tabulates categories and f26/f46 fit slopes; none measures
# MONOTONE association. Spearman ρ = Pearson on average ranks, here
# between per-customer order count and lifetime spend, with the raw
# Pearson r alongside — the ρ-vs-r gap is the standard nonlinearity
# probe.
#
# Rank assignment is the scale-critical step: a global RANK() window
# would single-task the customer relation. Instead ranks come from the
# VALUE grain — groupBy(value) counts, one distributed prefix sum
# (operators/prefix.py) over the sorted distinct values, then
# avg-rank = preceding + (cnt+1)/2 joined back. Doubled ranks
# (2·avg-rank, always integer) keep tie handling in exact arithmetic.
# All moment sums are DECIMAL(38,0) (bigint products would overflow at
# ~1e8 customers: Σ(2r)² ≈ 4n³); the three final terms cast to DOUBLE
# once each, so both engines evaluate the same IEEE expression.
# ---------------------------------------------------------------------------


@register(
    "f61_spearman_rank_corr",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
           AS y
  FROM orders GROUP BY 1
), vx AS (
  SELECT x, cnt, SUM(cnt) OVER (ORDER BY x) AS cum
  FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM cust GROUP BY x)
), vy AS (
  SELECT y, cnt, SUM(cnt) OVER (ORDER BY y) AS cum
  FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM cust GROUP BY y)
), r AS (
  SELECT c.x, c.y,
         2 * (vx.cum - vx.cnt) + vx.cnt + 1 AS rx2,
         2 * (vy.cum - vy.cnt) + vy.cnt + 1 AS ry2
  FROM cust c JOIN vx USING (x) JOIN vy USING (y)
), s AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(rx2 AS HUGEINT)) AS sx,
         SUM(CAST(ry2 AS HUGEINT)) AS sy,
         SUM(CAST(rx2 AS HUGEINT) * ry2) AS sxy,
         SUM(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
         SUM(CAST(ry2 AS HUGEINT) * ry2) AS syy,
         SUM(CAST(x AS HUGEINT)) AS tx,
         SUM(CAST(y AS HUGEINT)) AS ty,
         SUM(CAST(x AS HUGEINT) * y) AS txy,
         SUM(CAST(x AS HUGEINT) * x) AS txx,
         SUM(CAST(y AS HUGEINT) * y) AS tyy
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_customers,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
         AS spearman_rho,
       ROUND(CAST(n * txy - tx * ty AS DOUBLE)
             / (SQRT(CAST(n * txx - tx * tx AS DOUBLE))
                * SQRT(CAST(n * tyy - ty * ty AS DOUBLE))), 6)
         AS pearson_r
FROM s
""",
    doc="Spearman rank correlation (tie-averaged ranks, doubled to "
    "stay integer) between per-customer order count and spend, with "
    "raw Pearson r alongside — ranks via value-grain counts + one "
    "distributed prefix sum, moments in DECIMAL(38,0), no global "
    "RANK() window.",
)
def f61_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # cust feeds FIVE subtrees (two value-grain rollups, each executed
    # twice by the range boundary sampling, plus the final join): pin
    # it once so the orders scan+aggregate runs once.
    cust = o.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("x"),
        (F.sum(X.dec("o_totalprice")) * 100).cast("bigint").alias("y"),
    ).localCheckpoint(eager=True)

    def ranks2(col: str) -> DataFrame:
        vg = cust.groupBy(col).agg(F.count("*").cast("bigint").alias("cnt"))
        cum = prefix_rank(
            vg, [F.asc(col)], value="cnt", cum_col="cum"
        )
        return cum.select(
            col,
            (2 * (F.col("cum") - F.col("cnt")) + F.col("cnt") + 1).alias(
                f"r2_{col}"
            ),
        )

    r = cust.join(ranks2("x"), "x").join(ranks2("y"), "y")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = r.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(d38(F.col("r2_x"))).alias("sx"),
        F.sum(d38(F.col("r2_y"))).alias("sy"),
        F.sum(d38(F.col("r2_x") * F.col("r2_y"))).alias("sxy"),
        F.sum(d38(F.col("r2_x") * F.col("r2_x"))).alias("sxx"),
        F.sum(d38(F.col("r2_y") * F.col("r2_y"))).alias("syy"),
        F.sum(d38(F.col("x"))).alias("tx"),
        F.sum(d38(F.col("y"))).alias("ty"),
        F.sum(d38(F.col("x") * F.col("y"))).alias("txy"),
        F.sum(d38(F.col("x") * F.col("x"))).alias("txx"),
        F.sum(d38(F.col("y") * F.col("y"))).alias("tyy"),
    )

    def corr_expr(sab, sa, sb, saa, sbb):
        num = (F.col("n") * F.col(sab) - F.col(sa) * F.col(sb)).cast(
            "double"
        )
        da = (F.col("n") * F.col(saa) - F.col(sa) * F.col(sa)).cast(
            "double"
        )
        db = (F.col("n") * F.col(sbb) - F.col(sb) * F.col(sb)).cast(
            "double"
        )
        return num / (F.sqrt(da) * F.sqrt(db))

    return s.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(corr_expr("sxy", "sx", "sy", "sxx", "syy"), 6).alias(
            "spearman_rho"
        ),
        F.round(corr_expr("txy", "tx", "ty", "txx", "tyy"), 6).alias(
            "pearson_r"
        ),
    )


# ---------------------------------------------------------------------------
# F62 — Tukey-fence outlier census with EXACT distributed quartiles
#
# f25's robust stats use approx percentiles; this computes exact
# type-1 (smallest-value-at-ceil-rank) quartiles per order priority
# WITHOUT a per-group sort window: the value grain is counted, one
# distributed prefix sum (operators/prefix.py) runs over the total
# (group, value) order, per-group cumulative counts come from
# subtracting the 5-row group-offset prefix, and each quartile is a
# MIN(CASE WHEN cum >= ceil(q·n/4)) aggregate. Fences are evaluated
# in doubled-decimal arithmetic (2v vs 2q1 − 3·IQR) so the 1.5×IQR
# rule needs no fractional literal and every comparison is exact.
# At 100 TB nothing bigger than the value grain crosses a shuffle and
# no window sees more than one partition's rows (plus the 5-row group
# rollup).
# ---------------------------------------------------------------------------


@register(
    "f62_tukey_outliers",
    oracle="""
WITH vg AS (
  SELECT o_orderpriority AS prio, CAST(o_totalprice AS DECIMAL(12,2)) AS v,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1, 2
), cum AS (
  SELECT prio, v, cnt,
         SUM(cnt) OVER (PARTITION BY prio ORDER BY v) AS pcum
  FROM vg
), tot AS (
  SELECT prio, CAST(SUM(cnt) AS BIGINT) AS n FROM vg GROUP BY 1
), qs AS (
  SELECT c.prio, ANY_VALUE(t.n) AS n,
         MIN(CASE WHEN pcum >= (1 * t.n + 3) // 4 THEN v END) AS q1,
         MIN(CASE WHEN pcum >= (2 * t.n + 3) // 4 THEN v END) AS q2,
         MIN(CASE WHEN pcum >= (3 * t.n + 3) // 4 THEN v END) AS q3
  FROM cum c JOIN tot t USING (prio) GROUP BY 1
)
SELECT q.prio, q.n,
       CAST(q.q1 AS DOUBLE) AS q1,
       CAST(q.q2 AS DOUBLE) AS q2,
       CAST(q.q3 AS DOUBLE) AS q3,
       CAST(SUM(CASE WHEN 2 * g.v < 2 * q.q1 - 3 * (q.q3 - q.q1)
                     THEN g.cnt ELSE 0 END) AS BIGINT) AS n_low,
       CAST(SUM(CASE WHEN 2 * g.v > 2 * q.q3 + 3 * (q.q3 - q.q1)
                     THEN g.cnt ELSE 0 END) AS BIGINT) AS n_high,
       ROUND(CAST(SUM(CASE WHEN 2 * g.v < 2 * q.q1 - 3 * (q.q3 - q.q1)
                             OR 2 * g.v > 2 * q.q3 + 3 * (q.q3 - q.q1)
                           THEN g.cnt ELSE 0 END) AS DOUBLE) / q.n, 4)
         AS outlier_pct
FROM vg g JOIN qs q USING (prio)
GROUP BY q.prio, q.n, q.q1, q.q2, q.q3
ORDER BY q.prio
""",
    doc="Tukey 1.5×IQR outlier census per order priority with EXACT "
    "type-1 quartiles: value-grain counts + one distributed prefix "
    "sum (no per-group sort window), doubled-decimal fence "
    "comparisons — the distribution-free data-quality gate f25's "
    "approx percentiles can't guarantee.",
)
def f62_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    vg = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        X.dec("o_totalprice").alias("v"),
    ).agg(F.count("*").cast("bigint").alias("cnt"))

    cum = prefix_rank(
        vg,
        [F.asc("prio"), F.asc("v")],
        value="cnt",
        cum_col="gcum",
        pin_input=True,  # orders scan+agg would run 2x in the sampling pass
        # pinned: THREE consumers below (group offsets, quartile agg,
        # fence census) — unpinned, each re-ran the partition-local
        # prefix window + offsets broadcast over the ranged blocks
    ).localCheckpoint(eager=True)
    # Group offsets straight off the prefix output: the first value row
    # of a group carries gcum - cnt = rows before the group, so
    # MIN(gcum - cnt) per prio is the group's start and SUM(cnt) its
    # size. Deriving both from `cum` (a checkpoint-leaf consumer) keeps
    # the plan to ONE parquet scan + ONE value-grain shuffle — the old
    # vg-based rollup re-scanned orders and re-ran the groupBy.
    offs = cum.groupBy("prio").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.min(F.col("gcum") - F.col("cnt")).alias("start"),
    )
    pcum = cum.join(F.broadcast(offs), "prio").withColumn(
        "pcum", F.col("gcum") - F.col("start")
    )

    # ceil(k·n/4) via integer arithmetic: pcum >= (k·n+3) div 4
    qs = pcum.groupBy("prio").agg(
        F.first("n").alias("n"),
        F.min(
            F.when(
                F.col("pcum") >= F.expr("(1 * n + 3) div 4"), F.col("v")
            )
        ).alias("q1"),
        F.min(
            F.when(
                F.col("pcum") >= F.expr("(2 * n + 3) div 4"), F.col("v")
            )
        ).alias("q2"),
        F.min(
            F.when(
                F.col("pcum") >= F.expr("(3 * n + 3) div 4"), F.col("v")
            )
        ).alias("q3"),
    )
    low = 2 * F.col("v") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1"))
    high = 2 * F.col("v") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))
    return (
        cum.select("prio", "v", "cnt")
        .join(F.broadcast(qs), "prio")
        .groupBy("prio", "n", "q1", "q2", "q3")
        .agg(
            F.sum(F.when(low, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_low"),
            F.sum(F.when(high, F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("n_high"),
            F.round(
                F.sum(F.when(low | high, F.col("cnt")).otherwise(0)).cast(
                    "double"
                )
                / F.col("n"),
                4,
            ).alias("outlier_pct"),
        )
        .select(
            "prio",
            "n",
            F.col("q1").cast("double").alias("q1"),
            F.col("q2").cast("double").alias("q2"),
            F.col("q3").cast("double").alias("q3"),
            "n_low",
            "n_high",
            "outlier_pct",
        )
        .orderBy("prio")
    )


# ---------------------------------------------------------------------------
# F63 — VaR / expected shortfall of the daily revenue series
#
# The downside-risk pair every revenue dashboard wants next to f29's
# Pareto: the exact type-1 5th-percentile day (VaR₉₅) and the mean of
# all days at or below it (expected shortfall / CVaR — coherent where
# VaR alone is not, Artzner et al. 1999). Exactness contract: the
# day-grain series is the f54 integer convention, the quantile is a
# MIN(CASE WHEN cum ≥ ceil(0.05·n)) over value-grain cumulative
# counts (no interpolation), and the tail mean is an integer-sum ÷
# count double division — identical IEEE ops in both engines.
#
# Every relation here is day- or value-grain (calendar-bounded); the
# one ordered window runs over distinct daily revenues, thousands of
# rows at any data scale.
# ---------------------------------------------------------------------------


@register(
    "f63_revenue_var_cvar",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y
  FROM orders GROUP BY 1
), vg AS (
  SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM daily GROUP BY 1
), cum AS (
  SELECT y, cnt, SUM(cnt) OVER (ORDER BY y) AS c FROM vg
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
q AS (
  SELECT ANY_VALUE(n) AS n,
         MIN(CASE WHEN c * 20 >= n THEN y END) AS var_p05,
         MIN(CASE WHEN c * 2 >= n THEN y END) AS median
  FROM cum CROSS JOIN tot
)
SELECT q.n AS n_days, q.var_p05, q.median,
       CAST(SUM(CASE WHEN d.y <= q.var_p05 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tail_days,
       CAST(SUM(CASE WHEN d.y <= q.var_p05 THEN d.y ELSE 0 END) AS DOUBLE)
         / SUM(CASE WHEN d.y <= q.var_p05 THEN 1 ELSE 0 END) AS es_p05,
       ROUND(CAST(q.var_p05 AS DOUBLE) / q.median, 4) AS var_to_median
FROM daily d CROSS JOIN q
GROUP BY q.n, q.var_p05, q.median
""",
    doc="Daily-revenue VaR95 (exact type-1 5th percentile, no "
    "interpolation) and expected shortfall (mean of all tail days, "
    "integer-sum/count division) — the coherent downside-risk pair; "
    "value-grain cumulative counts, ceil-rank via c*20 >= n.",
)
def f63_revenue_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.round(F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0)
        .cast("bigint")
        .alias("y")
    )
    vg = daily.groupBy("y").agg(F.count("*").cast("bigint").alias("cnt"))
    # distinct-daily-revenue grain: calendar-bounded, window is safe
    w = Window.orderBy("y").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vg.select("y", F.sum("cnt").over(w).alias("c"))
    tot = daily.agg(F.count("*").cast("bigint").alias("n"))
    q = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.first("n").alias("n"),
            F.min(
                F.when(F.col("c") * 20 >= F.col("n"), F.col("y"))
            ).alias("var_p05"),
            F.min(
                F.when(F.col("c") * 2 >= F.col("n"), F.col("y"))
            ).alias("median"),
        )
    )
    in_tail = F.col("y") <= F.col("var_p05")
    return (
        daily.crossJoin(F.broadcast(q))
        .groupBy("n", "var_p05", "median")
        .agg(
            F.sum(F.when(in_tail, 1).otherwise(0))
            .cast("bigint")
            .alias("n_tail_days"),
            (
                F.sum(F.when(in_tail, F.col("y")).otherwise(0)).cast(
                    "double"
                )
                / F.sum(F.when(in_tail, 1).otherwise(0))
            ).alias("es_p05"),
            F.round(
                F.col("var_p05").cast("double") / F.col("median"), 4
            ).alias("var_to_median"),
        )
        .select(
            F.col("n").alias("n_days"),
            "var_p05",
            "median",
            "n_tail_days",
            "es_p05",
            "var_to_median",
        )
    )


# ---------------------------------------------------------------------------
# F64 — monthly revenue percentile bands (P10/P50/P90 of daily revenue)
#
# f18's percentiles are corpus-global and f23's equi-depth histogram
# is one-dimensional; operations dashboards want the BAND per period:
# within each calendar month, the exact type-1 P10/P50/P90 of the
# daily revenue distribution, plus the relative spread — the
# volatility-seasonality readout that says which months are erratic
# rather than merely big.
#
# Grain safety: the ordered window is PARTITIONED BY month over day
# rows — ≤ 31 rows per partition at any data scale (the heavy
# reduction to the day grain happens in the groupBy before it).
# ---------------------------------------------------------------------------


@register(
    "f64_monthly_revenue_bands",
    oracle="""
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
), ranked AS (
  SELECT month, y,
         ROW_NUMBER() OVER (PARTITION BY month ORDER BY y) AS rn,
         COUNT(*) OVER (PARTITION BY month) AS n
  FROM daily
)
SELECT month, ANY_VALUE(n) AS n_days,
       MIN(CASE WHEN rn * 10 >= n THEN y END) AS p10,
       MIN(CASE WHEN rn * 2 >= n THEN y END) AS p50,
       MIN(CASE WHEN rn * 10 >= 9 * n THEN y END) AS p90,
       ROUND(CAST(MIN(CASE WHEN rn * 10 >= 9 * n THEN y END)
                  - MIN(CASE WHEN rn * 10 >= n THEN y END) AS DOUBLE)
             / MIN(CASE WHEN rn * 2 >= n THEN y END), 4) AS rel_spread
FROM ranked GROUP BY month ORDER BY month
""",
    doc="Monthly P10/P50/P90 bands of daily revenue (exact type-1 "
    "ranks, month-partitioned windows over <=31 day rows) with "
    "relative spread (P90-P10)/P50 — the volatility-seasonality "
    "readout.",
)
def f64_monthly_revenue_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        to_month("o_orderdate").alias("month"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d"),
    ).agg(
        F.round(F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0)
        .cast("bigint")
        .alias("y")
    )
    w = Window.partitionBy("month").orderBy("y")
    ranked = daily.select(
        "month",
        "y",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(
            Window.partitionBy("month").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    p10 = F.min(F.when(F.col("rn") * 10 >= F.col("n"), F.col("y")))
    p50 = F.min(F.when(F.col("rn") * 2 >= F.col("n"), F.col("y")))
    p90 = F.min(F.when(F.col("rn") * 10 >= 9 * F.col("n"), F.col("y")))
    return (
        ranked.groupBy("month")
        .agg(
            F.first("n").alias("n_days"),
            p10.alias("p10"),
            p50.alias("p50"),
            p90.alias("p90"),
            F.round(
                (p90 - p10).cast("double") / p50, 4
            ).alias("rel_spread"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# F65 — calibration curve + Brier decomposition inputs
#
# Model-evaluation staple: given per-row predicted probabilities and
# binary outcomes, bucket predictions into deciles and report, per
# bin, the mean prediction vs the observed positive rate (the
# reliability diagram) plus the bin's Brier contribution. The
# "model" is an in-sample historical-rate predictor — P(urgent) per
# (market segment, order month, price band) — which keeps the whole
# pipeline inside the warehouse AND keeps every number an exact
# integer: predictions are milli-quantized rationals ((pos*1000) div
# n), outcomes are 0/1000, Brier contributions are Σ(p-y)² in
# milli² — no float anywhere, so cross-engine parity is exact.
# Scale shape: one aggregate to build the rate table (group count is
# bounded by the feature grid, broadcast back), one map-side-combined
# aggregate over orders for the bins — two shuffles total, both on
# bounded keys.
# ---------------------------------------------------------------------------


@register(
    "f65_calibration_brier",
    oracle="""
WITH feat AS (
  SELECT o_orderkey,
         c_mktsegment AS seg,
         CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mon,
         CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS pband,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders JOIN customer ON c_custkey = o_custkey
), rates AS (
  SELECT seg, mon, pband,
         CAST(SUM(y) * 1000 AS BIGINT) // COUNT(*) AS p_milli
  FROM feat GROUP BY seg, mon, pband
), scored AS (
  SELECT f.y, r.p_milli, CAST(r.p_milli // 100 AS INT) AS bin
  FROM feat f JOIN rates r USING (seg, mon, pband)
)
SELECT bin,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(p_milli) AS BIGINT) AS sum_pred_milli,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM((p_milli - 1000 * y) * (p_milli - 1000 * y)) AS BIGINT)
         AS brier_sum
FROM scored
GROUP BY bin
ORDER BY bin
""",
    doc="Reliability diagram + Brier contributions for an in-sample "
    "historical-rate predictor of urgent orders: milli-quantized "
    "rational predictions, decile bins, per-bin mean prediction / "
    "observed positives / sum((p-y)^2) — exact integers end to end.",
)
def f65_calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # customer scales with the data — shuffle join on the key, no
    # broadcast hint (AQE may still choose one at small SFs)
    feat = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.month("o_orderdate").cast("int").alias("mon"),
        F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("pband"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    rates = feat.groupBy("seg", "mon", "pband").agg(
        F.expr("sum(y) * 1000 div count(*)").cast("bigint").alias("p_milli")
    )
    # the rate table is feature-grid-sized (bounded), broadcast back
    scored = feat.join(F.broadcast(rates), ["seg", "mon", "pband"]).select(
        "y",
        "p_milli",
        F.expr("p_milli div 100").cast("int").alias("bin"),
    )
    diff = F.col("p_milli") - 1000 * F.col("y")
    return (
        scored.groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("p_milli").cast("bigint").alias("sum_pred_milli"),
            F.sum("y").cast("bigint").alias("n_pos"),
            F.sum(diff * diff).cast("bigint").alias("brier_sum"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# X120 — histogram quantiles (the approximate-quantile-at-scale shape)
#
# Exact distributed quantiles need either a global sort or the
# two-phase prefix machinery (f62); the shape that actually runs on
# 100 TB telemetry is a FIXED-DOMAIN equi-width histogram — one
# map-side-combined aggregate to a bounded bin table (mergeable
# across shards/days by bin-wise addition, same property x118 proves
# for HLL), then quantiles interpolated inside the located bin. Every
# step is integer: prices in cents, bin width an exact cents
# constant, target rank = ceil(q*N/100) via div, interpolation
# ((rank - cum_before) * width) div bin_cnt. The 5 quantile arms are
# data (a broadcast VALUES relation), so one non-equi broadcast join
# against the 256-row cumulative bin table locates all arms in one
# pass — no per-arm jobs. Error is bounded by one bin width
# (~$2.3k on a $600k domain), priced against the exact quartiles in
# tests/test_round6_queries.py.
# ---------------------------------------------------------------------------

_X120_BINS = 256
_X120_DOMAIN_CENTS = 60_000_000  # [$0, $600k) — fixed, data-independent
_X120_W = _X120_DOMAIN_CENTS // _X120_BINS
_X120_QS = (25, 50, 75, 90, 99)


@register(
    "x120_histogram_quantiles",
    oracle=f"""
WITH vals AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
), bins AS (
  SELECT LEAST(cents // {_X120_W}, {_X120_BINS - 1}) AS bin,
         COUNT(*) AS cnt
  FROM vals GROUP BY 1
), cum AS (
  SELECT bin, cnt,
         SUM(cnt) OVER (ORDER BY bin) AS cum,
         SUM(cnt) OVER (ORDER BY bin) - cnt AS cum_before,
         SUM(cnt) OVER () AS n_total
  FROM bins
), arms AS (
  SELECT unnest([{", ".join(str(q) for q in _X120_QS)}]) AS q
), located AS (
  SELECT q, n_total,
         (q * n_total + 99) // 100 AS target_rank,
         bin, cum_before, cnt
  FROM arms JOIN cum
    ON (q * n_total + 99) // 100 > cum_before
   AND (q * n_total + 99) // 100 <= cum
)
SELECT CAST(q AS INT) AS q,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(target_rank AS BIGINT) AS target_rank,
       CAST(bin AS BIGINT) AS bin_idx,
       CAST(cum_before AS BIGINT) AS cum_before,
       CAST(cnt AS BIGINT) AS bin_cnt,
       CAST(bin * {_X120_W}
            + ((target_rank - cum_before) * {_X120_W}) // cnt AS BIGINT)
         AS est_cents
FROM located
ORDER BY q
""",
    doc=f"Equi-width {_X120_BINS}-bin histogram over a fixed cents "
    "domain -> quantile interpolation, all-integer: one bounded-key "
    "aggregate (bin table mergeable across shards), cumulative over "
    "the bin grain, 5 quantile arms located by one broadcast non-equi "
    "join. Error <= one bin width by construction.",
)
def x120_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.operators.sketches import (
        histogram_bins,
        histogram_quantiles,
    )

    o = table(spark, sf_dir, "orders")
    vals = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    bins = histogram_bins(
        vals, "cents", bins=_X120_BINS, domain=_X120_DOMAIN_CENTS
    )
    return histogram_quantiles(
        bins, _X120_QS, bins=_X120_BINS, domain=_X120_DOMAIN_CENTS
    )


# ---------------------------------------------------------------------------
# F66 — grouped ROC AUC (rank-sum form)
#
# The discrimination complement to f65's calibration: per market
# segment, the probability that a random urgent order outscores a
# random non-urgent one under the same historical-rate predictor.
# AUC is computed in the Mann-Whitney rank-sum form with mid-rank tie
# handling, entirely on the PREDICTION-VALUE GRAIN (p_milli has at
# most 1001 distinct values, so the per-segment window runs over a
# bounded relation, never the orders). Doubled ranks keep the
# arithmetic integral: r2 = 2*below + t + 1 is twice the mid-rank,
# AUC = (sum_pos(r2) - n1*(n1+1)) / (2*n1*n0). Rank-sum products are
# accumulated in DECIMAL(38,0) — at 100 TB a segment can hold >2e9
# orders and sum(t_pos * r2) ~ 2n² overflows BIGINT — and the final
# AUC is one double division of the exact decimals, micro-rounded.
# ---------------------------------------------------------------------------


@register(
    "f66_roc_auc",
    oracle="""
WITH feat AS (
  SELECT c_mktsegment AS seg,
         CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mon,
         CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS pband,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders JOIN customer ON c_custkey = o_custkey
), rates AS (
  SELECT seg, mon, pband,
         CAST(SUM(y) * 1000 AS BIGINT) // COUNT(*) AS p_milli
  FROM feat GROUP BY seg, mon, pband
), scored AS (
  SELECT f.seg, f.y, r.p_milli
  FROM feat f JOIN rates r USING (seg, mon, pband)
), grain AS (
  SELECT seg, p_milli, COUNT(*) AS t, SUM(y) AS t_pos
  FROM scored GROUP BY seg, p_milli
), ranked AS (
  SELECT seg, p_milli, t, t_pos,
         SUM(t) OVER (PARTITION BY seg ORDER BY p_milli) - t AS below
  FROM grain
), s AS (
  SELECT seg,
         CAST(SUM(t_pos) AS DECIMAL(38,0)) AS n1,
         CAST(SUM(t - t_pos) AS DECIMAL(38,0)) AS n0,
         SUM(CAST(t_pos AS DECIMAL(38,0)) * (2 * below + t + 1)) AS r2_pos
  FROM ranked GROUP BY seg
)
SELECT seg,
       CAST(n1 AS BIGINT) AS n_pos,
       CAST(n0 AS BIGINT) AS n_neg,
       CAST(ROUND(CAST(r2_pos - n1 * (n1 + 1) AS DOUBLE)
                  / CAST(2 * n1 * n0 AS DOUBLE) * 1e6) AS BIGINT)
         AS auc_micro
FROM s
ORDER BY seg
""",
    doc="Per-segment ROC AUC of the f65 rate predictor via the "
    "Mann-Whitney rank-sum with mid-rank ties, computed on the "
    "bounded p_milli grain (<=1001 values/segment); DECIMAL(38,0) "
    "rank sums (2n^2 overflows BIGINT at 100 TB segment sizes), one "
    "final double division micro-rounded.",
)
def f66_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    feat = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.month("o_orderdate").cast("int").alias("mon"),
        F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("pband"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    rates = feat.groupBy("seg", "mon", "pband").agg(
        F.expr("sum(y) * 1000 div count(*)").cast("bigint").alias("p_milli")
    )
    scored = feat.join(F.broadcast(rates), ["seg", "mon", "pband"]).select(
        "seg", "y", "p_milli"
    )
    grain = scored.groupBy("seg", "p_milli").agg(
        F.count("*").alias("t"), F.sum("y").alias("t_pos")
    )
    w = Window.partitionBy("seg").orderBy("p_milli")
    ranked = grain.select(
        "seg",
        "p_milli",
        "t",
        "t_pos",
        (F.sum("t").over(w) - F.col("t")).alias("below"),
    )
    s = ranked.groupBy("seg").agg(
        F.sum("t_pos").cast("decimal(38,0)").alias("n1"),
        F.sum(F.col("t") - F.col("t_pos")).cast("decimal(38,0)").alias("n0"),
        F.sum(
            F.col("t_pos").cast("decimal(38,0)")
            * (2 * F.col("below") + F.col("t") + 1)
        ).alias("r2_pos"),
    )
    auc = F.round(
        (F.col("r2_pos") - F.col("n1") * (F.col("n1") + 1)).cast("double")
        / (2 * F.col("n1") * F.col("n0")).cast("double")
        * F.lit(1e6)
    ).cast("bigint")
    return s.select(
        "seg",
        F.col("n1").cast("bigint").alias("n_pos"),
        F.col("n0").cast("bigint").alias("n_neg"),
        auc.alias("auc_micro"),
    ).orderBy("seg")


# ---------------------------------------------------------------------------
# F67 — Kruskal-Wallis rank test (robust numeric-by-categorical)
#
# f49's ANOVA assumes the group distributions are normal-ish; the
# rank-based Kruskal-Wallis H test is its robust sibling (the k-group
# extension of f45's Mann-Whitney). Does shipped quantity depend on
# return flag? Everything reduces to the VALUE DOMAIN (quantities are
# the integers 1..50, so all windows run over a bounded 50-row grain
# — the x82/f19 domain-grain argument): per-value totals give exact
# mid-ranks as the INTEGER 2·midrank = 2·cum_before + t + 1, group
# rank sums are exact BIGINT Σ cnt·mr2, the cross-group Σ R_g²/n_g
# uses f49's 12dp-quantized decimal sum (order-independent), and the
# tie correction 1 − Σ(t³−t)/(N³−N) is BIGINT over the value grain.
# Scale shape: one (value, group) hash aggregate over the fact, then
# domain-sized relations only.
# ---------------------------------------------------------------------------


@register(
    "f67_kruskal_wallis",
    oracle="""
WITH v AS (
  SELECT CAST(l_quantity AS BIGINT) AS q, l_returnflag AS flag,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem GROUP BY 1, 2
), vt AS (
  SELECT q, CAST(SUM(c) AS BIGINT) AS t FROM v GROUP BY q
), mr AS (
  SELECT q, t,
         CAST(2 * (SUM(t) OVER (ORDER BY q
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
              + t + 1 AS BIGINT) AS mr2
  FROM vt
), g AS (
  SELECT flag, CAST(SUM(c) AS BIGINT) AS n_g,
         CAST(SUM(c * mr.mr2) AS BIGINT) AS r2_g
  FROM v JOIN mr USING (q) GROUP BY flag
), tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(ROUND(CAST(r2_g AS DOUBLE) * r2_g / (4.0 * n_g), 12)
                       AS DECIMAL(38,12))) AS DOUBLE) AS s
  FROM g
), ties AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS t3 FROM vt
)
SELECT tot.n AS n_rows, tot.k AS n_groups,
       ROUND(12.0 / (tot.n * (tot.n + 1.0)) * tot.s - 3.0 * (tot.n + 1), 6)
         AS h_stat,
       ROUND(1.0 - CAST(ties.t3 AS DOUBLE)
                   / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n), 6)
         AS tie_correction,
       ROUND((12.0 / (tot.n * (tot.n + 1.0)) * tot.s - 3.0 * (tot.n + 1))
             / (1.0 - CAST(ties.t3 AS DOUBLE)
                      / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n)), 6)
         AS h_corrected
FROM tot CROSS JOIN ties
""",
    doc="Kruskal-Wallis H test of quantity by return flag: exact "
    "integer mid-ranks on the bounded value domain (mr2 = 2·cum_before "
    "+ t + 1), BIGINT group rank sums, f49's 12dp-quantized decimal "
    "cross-group sum, and the Σ(t³−t) tie correction — the robust "
    "rank-based member of the f33/f34/f45/f49 inference suite.",
)
def f67_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    v = li.groupBy(
        F.col("l_quantity").cast("bigint").alias("q"),
        F.col("l_returnflag").alias("flag"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    vt = v.groupBy("q").agg(F.sum("c").cast("bigint").alias("t"))
    # value-domain window: bounded by the 50 representable quantities
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    mr = vt.select(
        "q",
        "t",
        (2 * (F.sum("t").over(w) - F.col("t")) + F.col("t") + 1)
        .cast("bigint")
        .alias("mr2"),
    )
    g = (
        v.join(F.broadcast(mr), "q")
        .groupBy("flag")
        .agg(
            F.sum("c").cast("bigint").alias("n_g"),
            F.sum(F.col("c") * F.col("mr2")).cast("bigint").alias("r2_g"),
        )
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(
            F.round(
                F.col("r2_g").cast("double")
                * F.col("r2_g")
                / (F.lit(4.0) * F.col("n_g")),
                12,
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("s"),
    )
    ties = vt.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("t3")
    )
    h = (
        F.lit(12.0) / (F.col("n") * (F.col("n") + F.lit(1.0))) * F.col("s")
        - F.lit(3.0) * (F.col("n") + 1)
    )
    tie_c = F.lit(1.0) - F.col("t3").cast("double") / (
        F.col("n").cast("double") * F.col("n") * F.col("n") - F.col("n")
    )
    return (
        tot.crossJoin(F.broadcast(ties))  # 1-row scalars
        .select(
            F.col("n").alias("n_rows"),
            F.col("k").alias("n_groups"),
            F.round(h, 6).alias("h_stat"),
            F.round(tie_c, 6).alias("tie_correction"),
            F.round(h / tie_c, 6).alias("h_corrected"),
        )
    )


# ---------------------------------------------------------------------------
# M13 — referential-integrity audit (FK orphan census)
#
# m10 audits freshness and m11 cardinality estimates; the remaining
# ops question a warehouse load keeps answering is "did every foreign
# key land?". One query sweeps every FK edge of the star schema and
# reports orphan rows/keys per edge — the post-load gate that catches
# a truncated dimension file before queries silently drop rows via
# inner joins. Each edge is an anti-join (Catalyst broadcasts the
# small parent sides; the lineitem edges shuffle id pairs only) plus
# a child-side aggregate; the 7 one-row results union into a bounded
# relation. NULL FKs count as orphans on both engines (anti-join and
# NOT EXISTS agree: a NULL key matches nothing).
# ---------------------------------------------------------------------------

_M13_RELS = [
    # (edge label, child table, fk col, parent table, pk col)
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
]


def _m13_edge_sql(rel: str, child: str, fk: str, parent: str, pk: str) -> str:
    orphan = (
        f"SELECT {fk} AS k FROM {child} ch WHERE NOT EXISTS "
        f"(SELECT 1 FROM {parent} p WHERE p.{pk} = ch.{fk})"
    )
    return f"""
SELECT relation, child_rows, child_keys, orphan_rows, orphan_keys,
       ROUND(CAST(orphan_rows AS DOUBLE) / child_rows, 6) AS orphan_rate
FROM (
  SELECT '{rel}' AS relation,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS child_rows,
         (SELECT CAST(COUNT(DISTINCT {fk}) AS BIGINT) FROM {child})
           AS child_keys,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM ({orphan}) o) AS orphan_rows,
         (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) FROM ({orphan}) o)
           AS orphan_keys
) t"""


@register(
    "m13_referential_integrity",
    oracle="\nUNION ALL".join(
        _m13_edge_sql(*rel) for rel in _M13_RELS
    )
    + "\nORDER BY relation",
    doc="Referential-integrity audit over all 7 FK edges of the star "
    "schema: child row/key counts, orphan rows/keys via anti-join "
    "(broadcast parents where small), orphan rate — the post-load "
    "gate before inner joins silently drop unmatched rows.",
)
def m13_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for rel, child, fk, parent, pk in _M13_RELS:
        ch = table(spark, sf_dir, child)
        pa = table(spark, sf_dir, parent).select(F.col(pk).alias(fk))
        tot = ch.agg(
            F.count("*").cast("bigint").alias("child_rows"),
            F.countDistinct(fk).cast("bigint").alias("child_keys"),
        )
        orph = ch.join(pa, fk, "left_anti").agg(
            F.count("*").cast("bigint").alias("orphan_rows"),
            F.countDistinct(fk).cast("bigint").alias("orphan_keys"),
        )
        parts.append(
            tot.crossJoin(F.broadcast(orph)).select(  # 1-row scalars
                F.lit(rel).alias("relation"),
                "child_rows",
                "child_keys",
                "orphan_rows",
                "orphan_keys",
                F.round(
                    F.col("orphan_rows").cast("double")
                    / F.col("child_rows"),
                    6,
                ).alias("orphan_rate"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("relation")


# ---------------------------------------------------------------------------
# F68 — lead-lag cross-correlation between two event series
#
# f48's ACF correlates a series with ITS OWN past; operations questions
# are usually about two DIFFERENT series ("do clicks lead purchases,
# and by how many days?"). Classic sample cross-correlation
# r_xy(lag) = corr(x_t, y_{t+lag}) over the daily grain, lags −7..+7.
# x = daily purchase cents (exact BIGINT via the s7 cent contract),
# y = daily click count. The f48 machinery carries over unchanged:
# the lag arms are a broadcast relation, alignment is one equi-join on
# the shifted day key, and every moment (Σx, Σy, Σxy, Σxx, Σyy) is an
# exact BIGINT so the Pearson ratio divides identical doubles.
# Scale shape: two day-grain aggregates, a broadcast crossJoin with 15
# lag arms, one (lag) hash aggregate — no data-sized window anywhere.
# ---------------------------------------------------------------------------

_F68_MAX_LAG = 7


@register(
    "f68_cross_correlation",
    oracle=f"""
WITH x AS (
  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), y AS (
  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events WHERE event_type = 'click' GROUP BY 1
), lags AS (
  SELECT unnest(range(-{_F68_MAX_LAG}, {_F68_MAX_LAG + 1})) AS lag
), aligned AS (
  SELECT l.lag, x.x, y.y
  FROM x CROSS JOIN lags l
  JOIN y ON y.d = x.d + l.lag
), s AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM aligned GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS xcorr
FROM s
ORDER BY lag
""",
    doc="Cross-correlation of daily purchase cents vs daily click "
    f"count at lags −{_F68_MAX_LAG}..+{_F68_MAX_LAG}: exact BIGINT "
    "moments per lag arm (f48's contract on two series), broadcast "
    "lag relation, one day-grain equi-join — answers 'do clicks lead "
    "purchases?'",
)
def f68_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    day = F.datediff(
        F.to_date("ts"), F.lit("2024-01-01").cast("date")
    ).alias("d")
    x = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(day)
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )
    y = (
        e.filter(F.col("event_type") == "click")
        .groupBy(day)
        .agg(F.count("*").cast("bigint").alias("y"))
    )
    lags = spark.range(-_F68_MAX_LAG, _F68_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    aligned = (
        x.crossJoin(F.broadcast(lags))
        .join(
            y.select(F.col("d").alias("d_y"), "y"),
            F.col("d_y") == F.col("d") + F.col("lag"),
        )
    )
    s = aligned.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.round(num / den, 6).alias("xcorr"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# M14 — Laplace-SHAPED perturbation plumbing (NOT a privacy mechanism)
#
# m8 (k-anonymity) and m12 (t-closeness) audit whether a release is
# safe to publish; a real DP release would add Lap(Δf/ε) drawn from a
# cryptographic RNG (Dwork et al. 2006 — sensitivity Δf = 1 for a
# disjoint histogram). THIS QUERY IS NOT THAT: the "noise" here is a
# deterministic function of the cell key (a 60-bit md5 fold → uniform
# u → inverse-CDF Laplace shape), and the true counts are emitted
# alongside the perturbed ones, so the effective epsilon is infinite
# and no privacy is provided. The determinism is the point — it
# exercises the exact arithmetic pipeline a Laplace release runs
# (integer algebra 1−2|u−½| = (2^60 − |2h − 2^60|)/2^60, one
# micro-quantized ln per the x81 contract, a same-operand division)
# bit-identically on both engines, so swapping in a real RNG draw for
# h is the ONLY change a production DP deployment needs.
# Scale shape: one hash aggregate on the nation grain + a broadcast
# dimension join; the perturbation is a per-row expression.
# ---------------------------------------------------------------------------

from calaveras_uniteus_etl_spark.plans.queries_multimodal import (  # noqa: E402
    _duck_fold as _duck_fold_sql,
)

_M14_EPS = 1.0  # privacy budget epsilon (sensitivity 1 histogram)
_M14_POW60 = 1 << 60


@register(
    "m14_dp_histogram",
    oracle=f"""
WITH cells AS (
  SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name
), h AS (
  SELECT nation, true_count,
         {_duck_fold_sql("substr(md5('m14|' || nation), 1, 15)")} AS hh
  FROM cells
), u AS (
  SELECT nation, true_count,
         CASE WHEN 2 * hh >= {_M14_POW60} THEN 1 ELSE -1 END AS sgn,
         {_M14_POW60} - ABS(2 * hh - {_M14_POW60}) AS num
  FROM h
), z AS (
  SELECT nation, true_count, sgn,
         CAST(round(ln(CAST(num AS DOUBLE) / {_M14_POW60}) * 1000000)
              AS BIGINT) AS ln_micro
  FROM u
)
SELECT nation, true_count,
       ROUND(-sgn * CAST(ln_micro AS DOUBLE) / (1000000.0 * {_M14_EPS}), 6)
         AS noise,
       ROUND(true_count
             - sgn * CAST(ln_micro AS DOUBLE) / (1000000.0 * {_M14_EPS}), 6)
         AS noisy_count
FROM z
ORDER BY nation
""",
    doc=f"Deterministic Laplace-SHAPED perturbation (eps = {_M14_EPS}, "
    "sensitivity-1 histogram) of customer counts per nation — NOT a "
    "privacy mechanism: the draw is a function of the cell key (60-bit "
    "md5 fold via the inverse CDF) and true counts are emitted "
    "alongside, so effective epsilon is infinite. It reproducibility-"
    "tests the exact arithmetic pipeline a real Laplace release runs; "
    "a DP deployment swaps the hash for an RNG draw.",
)
def m14_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    cells = (
        c.join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            c.c_nationkey == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").cast("bigint").alias("true_count"))
    )
    hh = F.conv(
        F.substring(F.md5(F.concat(F.lit("m14|"), F.col("nation"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    u = cells.select(
        "nation",
        "true_count",
        F.when(2 * hh >= _M14_POW60, 1).otherwise(-1).alias("sgn"),
        (F.lit(_M14_POW60) - F.abs(2 * hh - _M14_POW60)).alias("num"),
    )
    ln_micro = (
        F.round(F.log(F.col("num").cast("double") / _M14_POW60) * 1e6)
        .cast("bigint")
        .alias("ln_micro")
    )
    z = u.select("nation", "true_count", "sgn", ln_micro)
    noise = -F.col("sgn") * F.col("ln_micro").cast("double") / (
        F.lit(1000000.0) * _M14_EPS
    )
    return z.select(
        "nation",
        "true_count",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("true_count") + noise, 6).alias("noisy_count"),
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# M15 — bloom-filter sizing advisor
#
# e17 PROVES a bloom prejoin works; capacity planning needs the sizes
# BEFORE the build: for each fact FK column, the classic optima
# m = ⌈−n·ln p / (ln 2)²⌉ bits and k = round(m/n · ln 2) hashes at the
# target false-positive rates. NDVs are exact COUNT(DISTINCTs) (one
# pass per fact table); the transcendental factors are NOT computed at
# runtime (two libm's can disagree by an ulp and flip a ⌈·⌉ at an
# integer boundary) — they are repr'd Python double literals embedded
# identically in both dialects, so bits/hashes are integer-identical
# everywhere. Scale shape: per-column distinct aggregates + a 2-row
# broadcast arm relation.
# ---------------------------------------------------------------------------

import math as _math

_M15_FPS = (0.01, 0.001)
# -ln(p)/(ln 2)^2 and ln 2, frozen as repr'd literals (see docstring)
_M15_MULT = {p: repr(-_math.log(p) / _math.log(2) ** 2) for p in _M15_FPS}
_M15_LN2 = repr(_math.log(2))
_M15_COLS = [
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
]


def _m15_oracle() -> str:
    ndv = "\nUNION ALL\n".join(
        f"SELECT '{t}.{c}' AS key_col, "
        f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv FROM {t}"
        for t, c in _M15_COLS
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT {p!r} AS fp, {_M15_MULT[p]} AS mult" for p in _M15_FPS
    )
    return f"""
WITH ndv AS ({ndv}), arms AS ({arms}),
calc AS (
  SELECT key_col, ndv, fp,
         CAST(ceil(CAST(ndv AS DOUBLE) * mult) AS BIGINT) AS bits
  FROM ndv CROSS JOIN arms
)
SELECT key_col, ndv, fp, bits,
       CAST(round(CAST(bits AS DOUBLE) / ndv * {_M15_LN2}) AS BIGINT)
         AS k_hashes,
       CAST((bits + 7) // 8 AS BIGINT) AS n_bytes
FROM calc
ORDER BY key_col, fp DESC
"""


@register(
    "m15_bloom_sizing",
    oracle=_m15_oracle(),
    doc="Bloom-filter sizing advisor: exact NDV per fact FK column, "
    "optimal bits m = ceil(-n ln p / ln^2 2) and hash count "
    "k = round(m/n * ln 2) at 1% and 0.1% target FP — transcendental "
    "factors frozen as repr'd literals so the integer outputs are "
    "engine-identical; the capacity plan behind e17's prejoin.",
)
def m15_bloom_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ndvs = []
    for t, c in _M15_COLS:
        ndvs.append(
            table(spark, sf_dir, t).agg(
                F.lit(f"{t}.{c}").alias("key_col"),
                F.countDistinct(c).cast("bigint").alias("ndv"),
            )
        )
    ndv = ndvs[0]
    for d in ndvs[1:]:
        ndv = ndv.unionAll(d)
    arms = spark.range(len(_M15_FPS)).select(
        F.element_at(
            F.array(*[F.lit(p) for p in _M15_FPS]), F.col("id").cast("int") + 1
        ).alias("fp"),
        F.element_at(
            F.array(*[F.expr(_M15_MULT[p]) for p in _M15_FPS]),
            F.col("id").cast("int") + 1,
        ).alias("mult"),
    )
    calc = ndv.crossJoin(F.broadcast(arms)).select(
        "key_col",
        "ndv",
        "fp",
        F.ceil(F.col("ndv").cast("double") * F.col("mult"))
        .cast("bigint")
        .alias("bits"),
    )
    return calc.select(
        "key_col",
        "ndv",
        "fp",
        "bits",
        F.round(
            F.col("bits").cast("double") / F.col("ndv") * F.expr(_M15_LN2)
        )
        .cast("bigint")
        .alias("k_hashes"),
        F.expr("(bits + 7) div 8").cast("bigint").alias("n_bytes"),
    ).orderBy("key_col", F.desc("fp"))


# ---------------------------------------------------------------------------
# X126 — per-source length quantiles (GROUPED mergeable histogram)
#
# x120 proves the fixed-domain histogram sketch globally; curation
# dashboards need it PER SOURCE ("is src7 suddenly shipping short
# docs?"). Same all-integer machinery with one change: the bin table
# keys on (source, bin) — still bounded (|sources|·128 rows), still
# bin-wise mergeable across shards — and the cumulative/location
# windows partition by source, so they parallelize across groups
# instead of funnelling through one partition. Exercises the
# group_cols path of operators/sketches.histogram_quantiles.
# ---------------------------------------------------------------------------

_X126_BINS = 128
_X126_DOMAIN = 1024  # chars — fixed, data-independent
_X126_W = _X126_DOMAIN // _X126_BINS
_X126_QS = (25, 50, 90)


@register(
    "x126_source_length_quantiles",
    oracle=f"""
WITH bins AS (
  SELECT source, LEAST(n_chars // {_X126_W}, {_X126_BINS - 1}) AS bin,
         COUNT(*) AS cnt
  FROM documents GROUP BY 1, 2
), cum AS (
  SELECT source, bin, cnt,
         SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY source ORDER BY bin) - cnt
           AS cum_before,
         SUM(cnt) OVER (PARTITION BY source) AS n_total
  FROM bins
), arms AS (
  SELECT unnest([{", ".join(str(q) for q in _X126_QS)}]) AS q
), located AS (
  SELECT source, q, n_total,
         (q * n_total + 99) // 100 AS target_rank,
         bin, cum_before, cnt
  FROM arms JOIN cum
    ON (q * n_total + 99) // 100 > cum_before
   AND (q * n_total + 99) // 100 <= cum
)
SELECT source, CAST(q AS INT) AS q,
       CAST(n_total AS BIGINT) AS n_total,
       CAST(target_rank AS BIGINT) AS target_rank,
       CAST(bin AS BIGINT) AS bin_idx,
       CAST(cum_before AS BIGINT) AS cum_before,
       CAST(cnt AS BIGINT) AS bin_cnt,
       CAST(bin * {_X126_W}
            + ((target_rank - cum_before) * {_X126_W}) // cnt AS BIGINT)
         AS est_cents
FROM located
ORDER BY source, q
""",
    doc=f"Per-source document-length quantiles from a grouped "
    f"{_X126_BINS}-bin fixed-domain histogram: (source, bin) table "
    "stays bounded and bin-wise mergeable, cumulative windows "
    "partition by source — the grouped path of the x120 sketch.",
)
def x126_source_length_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from calaveras_uniteus_etl_spark.operators.sketches import (
        histogram_bins,
        histogram_quantiles,
    )

    d = table(spark, sf_dir, "documents").select("source", "n_chars")
    bins = histogram_bins(
        d,
        "n_chars",
        bins=_X126_BINS,
        domain=_X126_DOMAIN,
        group_cols=("source",),
    )
    return histogram_quantiles(
        bins,
        _X126_QS,
        bins=_X126_BINS,
        domain=_X126_DOMAIN,
        group_cols=("source",),
    )


# ---------------------------------------------------------------------------
# G22 — growth accounting (new / retained / resurrected / churned)
#
# The canonical product-analytics decomposition of daily active users
# (a.k.a. the "quick ratio" inputs): on each day every active user is
# exactly one of NEW (first day ever), RETAINED (active yesterday) or
# RESURRECTED (returns after a gap), and a user active on d but not on
# d+1 CHURNS on d+1 (counted through the end of the observed window).
# All user-partitioned lag/lead windows (parallel across users at any
# scale), then one day-grain conditional aggregate; the only global
# is a broadcast 1-row max-day scalar bounding the churn horizon.
# ---------------------------------------------------------------------------


@register(
    "g22_growth_accounting",
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
  FROM events
), seq AS (
  SELECT user_id, d,
         LAG(d)  OVER (PARTITION BY user_id ORDER BY d) AS prev_d,
         LEAD(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d
  FROM act
), horizon AS (
  SELECT MAX(d) AS max_d FROM act
), states AS (
  SELECT d,
         CASE WHEN prev_d IS NULL THEN 'new'
              WHEN d - prev_d = 1 THEN 'retained'
              ELSE 'resurrected' END AS state
  FROM seq
  UNION ALL
  SELECT s.d + 1 AS d, 'churned' AS state
  FROM seq s CROSS JOIN horizon h
  WHERE (s.next_d IS NULL OR s.next_d > s.d + 1) AND s.d + 1 <= h.max_d
)
SELECT CAST(d AS BIGINT) AS d,
       CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retained,
       CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_resurrected,
       CAST(SUM(CASE WHEN state = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_churned,
       CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END)
            + SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
            - SUM(CASE WHEN state = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
         AS net_growth
FROM states
GROUP BY d
ORDER BY d
""",
    doc="Growth accounting: every daily active user classified "
    "new/retained/resurrected via user-partitioned lag windows, "
    "churn on the day after a user's last consecutive day (bounded "
    "by a broadcast max-day scalar), one day-grain conditional "
    "aggregate with the net-growth (quick-ratio numerator) column.",
)
def g22_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    act = e.select(
        "user_id",
        F.datediff(
            F.to_date("ts"), F.lit("2024-01-01").cast("date")
        ).alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    seq = act.select(
        "user_id",
        "d",
        F.lag("d").over(w).alias("prev_d"),
        F.lead("d").over(w).alias("next_d"),
    )
    horizon = act.agg(F.max("d").alias("max_d"))  # 1-row scalar
    states = seq.select(
        "d",
        F.when(F.col("prev_d").isNull(), "new")
        .when(F.col("d") - F.col("prev_d") == 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    ).unionAll(
        seq.crossJoin(F.broadcast(horizon))
        .filter(
            (F.col("next_d").isNull() | (F.col("next_d") > F.col("d") + 1))
            & (F.col("d") + 1 <= F.col("max_d"))
        )
        .select((F.col("d") + 1).alias("d"), F.lit("churned").alias("state"))
    )
    cnt = lambda s: F.sum(  # noqa: E731 - tiny local shorthand
        F.when(F.col("state") == s, 1).otherwise(0)
    ).cast("bigint")
    return (
        states.groupBy("d")
        .agg(
            cnt("new").alias("n_new"),
            cnt("retained").alias("n_retained"),
            cnt("resurrected").alias("n_resurrected"),
            cnt("churned").alias("n_churned"),
            (cnt("new") + cnt("resurrected") - cnt("churned"))
            .cast("bigint")
            .alias("net_growth"),
        )
        .select(
            F.col("d").cast("bigint").alias("d"),
            "n_new",
            "n_retained",
            "n_resurrected",
            "n_churned",
            "net_growth",
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# F70 — decision-stump split finder (weighted Gini impurity)
#
# The smallest interesting "learner" a SQL engine can train: the best
# single threshold on order value for predicting urgency — i.e. the
# root split a decision tree / GBDT would pick. Prices bucket onto
# x120's fixed 256-bin cents grain, so candidate thresholds live on a
# BOUNDED relation: cumulative (n, positives) per bin boundary give
# each split's left/right class counts exactly, and the weighted Gini
# 2·[pos_l(n_l−pos_l)/n_l + pos_r(n_r−pos_r)/n_r]/N is one fixed
# expression over those BIGINTs (empty sides contribute 0 by CASE).
# The argmin is a total order (impurity, then lowest boundary) — the
# same winning split on both engines. Scale shape: one bounded-key
# aggregate over the fact, then 256-row windows (allowlisted grain).
# ---------------------------------------------------------------------------

_F70_BINS = 256
_F70_DOMAIN = 60_000_000  # cents, the x120 domain
_F70_W = _F70_DOMAIN // _F70_BINS


@register(
    "f70_gini_split",
    oracle=f"""
WITH rows_ AS (
  SELECT LEAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) // {_F70_W},
               {_F70_BINS - 1}) AS bin,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
), bins AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS pos
  FROM rows_ GROUP BY bin
), cum AS (
  SELECT bin,
         CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS n_l,
         CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS pos_l,
         CAST(SUM(n) OVER () AS BIGINT) AS n_tot,
         CAST(SUM(pos) OVER () AS BIGINT) AS pos_tot
  FROM bins
), splits AS (
  SELECT bin, n_l, pos_l, n_tot - n_l AS n_r, pos_tot - pos_l AS pos_r,
         n_tot, pos_tot,
         2.0 * ((CASE WHEN n_l = 0 THEN 0.0
                 ELSE CAST(pos_l AS DOUBLE) * (n_l - pos_l) / n_l END)
              + (CASE WHEN n_tot - n_l = 0 THEN 0.0
                 ELSE CAST(pos_tot - pos_l AS DOUBLE)
                      * ((n_tot - n_l) - (pos_tot - pos_l))
                      / (n_tot - n_l) END)) / n_tot AS impurity
  FROM cum WHERE n_l < n_tot
), best AS (
  SELECT * FROM splits ORDER BY impurity ASC, bin ASC LIMIT 1
)
SELECT CAST((bin + 1) * {_F70_W} AS BIGINT) AS threshold_cents,
       n_l AS n_left, pos_l AS pos_left, n_r AS n_right, pos_r AS pos_right,
       ROUND(impurity, 6) AS split_gini,
       ROUND(2.0 * CAST(pos_tot AS DOUBLE) * (n_tot - pos_tot)
             / n_tot / n_tot, 6) AS base_gini,
       ROUND(2.0 * CAST(pos_tot AS DOUBLE) * (n_tot - pos_tot)
             / n_tot / n_tot - impurity, 6) AS gain
FROM best
""",
    doc="Decision-stump training in SQL: best order-value threshold "
    "for predicting urgency by weighted Gini impurity over the "
    "bounded 256-bin cents grain — exact BIGINT left/right class "
    "counts per candidate boundary, one shared impurity expression, "
    "(impurity, boundary) total-order argmin; reports the split, "
    "both side counts, and the impurity gain over the root.",
)
def f70_gini_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    rows_ = o.select(
        F.least(
            F.expr(
                f"cast(round(o_totalprice * 100) as bigint) div {_F70_W}"
            ),
            F.lit(_F70_BINS - 1),
        ).alias("bin"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    bins = rows_.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    # bounded 256-bin grain windows (allowlisted, never data-sized)
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = bins.select(
        "bin",
        F.sum("n").over(w_cum).cast("bigint").alias("n_l"),
        F.sum("pos").over(w_cum).cast("bigint").alias("pos_l"),
        F.sum("n").over(w_all).cast("bigint").alias("n_tot"),
        F.sum("pos").over(w_all).cast("bigint").alias("pos_tot"),
    )
    n_r = F.col("n_tot") - F.col("n_l")
    pos_r = F.col("pos_tot") - F.col("pos_l")
    left = F.when(F.col("n_l") == 0, F.lit(0.0)).otherwise(
        F.col("pos_l").cast("double")
        * (F.col("n_l") - F.col("pos_l"))
        / F.col("n_l")
    )
    right = F.when(n_r == 0, F.lit(0.0)).otherwise(
        pos_r.cast("double") * (n_r - pos_r) / n_r
    )
    splits = cum.filter(F.col("n_l") < F.col("n_tot")).select(
        "bin",
        "n_l",
        "pos_l",
        n_r.alias("n_r"),
        pos_r.alias("pos_r"),
        "n_tot",
        "pos_tot",
        (F.lit(2.0) * (left + right) / F.col("n_tot")).alias("impurity"),
    )
    best = splits.orderBy(F.asc("impurity"), F.asc("bin")).limit(1)
    base = (
        F.lit(2.0)
        * F.col("pos_tot").cast("double")
        * (F.col("n_tot") - F.col("pos_tot"))
        / F.col("n_tot")
        / F.col("n_tot")
    )
    return best.select(
        ((F.col("bin") + 1) * _F70_W).cast("bigint").alias("threshold_cents"),
        F.col("n_l").alias("n_left"),
        F.col("pos_l").alias("pos_left"),
        F.col("n_r").alias("n_right"),
        F.col("pos_r").alias("pos_right"),
        F.round("impurity", 6).alias("split_gini"),
        F.round(base, 6).alias("base_gini"),
        F.round(base - F.col("impurity"), 6).alias("gain"),
    )


# ---------------------------------------------------------------------------
# G23 — engagement ratios (DAU / WAU / MAU, stickiness)
#
# g22 decomposes WHO moved; the other standing product dashboard asks
# HOW MANY are around at each horizon: daily actives, trailing-7-day
# and trailing-28-day actives, and the stickiness ratios DAU/WAU and
# DAU/MAU. Rolling DISTINCT does not decompose into a running sum
# (a user active twice in the window must count once), so each day's
# WAU/MAU is an explicit membership count: the distinct (user, day)
# relation joins the bounded day grid on a range predicate — a
# constant ≤ 28× row multiplier, partitionable by day at any scale —
# and one hash aggregate per day counts distinct users. Ratios divide
# exact integers.
# ---------------------------------------------------------------------------


@register(
    "g23_engagement_ratios",
    oracle="""
WITH act AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
  FROM events
), grid AS (
  SELECT DISTINCT d FROM act
), win AS (
  SELECT g.d,
         CAST(COUNT(DISTINCT CASE WHEN a.d = g.d THEN a.user_id END)
              AS BIGINT) AS dau,
         CAST(COUNT(DISTINCT CASE WHEN a.d > g.d - 7 THEN a.user_id END)
              AS BIGINT) AS wau,
         CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS mau
  FROM grid g JOIN act a ON a.d BETWEEN g.d - 27 AND g.d
  GROUP BY g.d
)
SELECT CAST(d AS BIGINT) AS d, dau, wau, mau,
       ROUND(CAST(dau AS DOUBLE) / wau, 6) AS dau_wau,
       ROUND(CAST(dau AS DOUBLE) / mau, 6) AS dau_mau
FROM win
ORDER BY d
""",
    doc="Engagement dashboard: DAU, trailing-7-day WAU, trailing-28-day "
    "MAU and the DAU/WAU, DAU/MAU stickiness ratios — rolling DISTINCT "
    "via one range join of the distinct (user, day) relation against "
    "the bounded day grid (≤ 28× multiplier, day-partitionable), one "
    "conditional distinct aggregate per day.",
)
def g23_engagement_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    act = e.select(
        "user_id",
        F.datediff(
            F.to_date("ts"), F.lit("2024-01-01").cast("date")
        ).alias("d"),
    ).distinct()
    grid = act.select("d").distinct().select(F.col("d").alias("g_d"))
    joined = F.broadcast(grid).join(
        act,
        (F.col("d") >= F.col("g_d") - 27) & (F.col("d") <= F.col("g_d")),
    )
    win = joined.groupBy("g_d").agg(
        F.countDistinct(
            F.when(F.col("d") == F.col("g_d"), F.col("user_id"))
        )
        .cast("bigint")
        .alias("dau"),
        F.countDistinct(
            F.when(F.col("d") > F.col("g_d") - 7, F.col("user_id"))
        )
        .cast("bigint")
        .alias("wau"),
        F.countDistinct("user_id").cast("bigint").alias("mau"),
    )
    return win.select(
        F.col("g_d").cast("bigint").alias("d"),
        "dau",
        "wau",
        "mau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
            "dau_wau"
        ),
        F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias(
            "dau_mau"
        ),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# X127 — Simpson's-paradox detector (aggregate vs stratified reversal)
#
# Every self-serve dashboard eventually ships a wrong conclusion of the
# form "type A monetizes better than type B" that reverses once a
# confounder is stratified out. This audits all event-type pairs: the
# AGGREGATE mean-value ordering vs the PER-DAY orderings — reporting
# how many day strata agree, disagree, or tie, and flagging the full
# paradox (aggregate says one thing, a majority of strata say the
# opposite). Means are ratios of exact cent/count BIGINTs, compared
# cross-multiplied (sum_a·n_b vs sum_b·n_a — integer compares, no
# division, no epsilon). Scale shape: one (day, type) aggregate, a
# bounded type-pair self-join on the day grain, one pair rollup.
# ---------------------------------------------------------------------------


@register(
    "x127_simpson_paradox",
    oracle="""
WITH cells AS (
  SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
         event_type AS t,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), agg AS (
  SELECT t, CAST(SUM(cents) AS BIGINT) AS cents, CAST(SUM(n) AS BIGINT) AS n
  FROM cells GROUP BY t
), pair_agg AS (
  SELECT a.t AS type_a, b.t AS type_b,
         CASE WHEN a.cents * b.n > b.cents * a.n THEN 1
              WHEN a.cents * b.n < b.cents * a.n THEN -1 ELSE 0 END
           AS agg_sign
  FROM agg a JOIN agg b ON a.t < b.t
), strata AS (
  SELECT p.type_a, p.type_b, p.agg_sign,
         CASE WHEN ca.cents * cb.n > cb.cents * ca.n THEN 1
              WHEN ca.cents * cb.n < cb.cents * ca.n THEN -1 ELSE 0 END
           AS day_sign
  FROM pair_agg p
  JOIN cells ca ON ca.t = p.type_a
  JOIN cells cb ON cb.t = p.type_b AND cb.d = ca.d
)
SELECT type_a, type_b, CAST(MAX(agg_sign) AS INT) AS agg_sign,
       CAST(COUNT(*) AS BIGINT) AS n_strata,
       CAST(SUM(CASE WHEN day_sign = agg_sign THEN 1 ELSE 0 END) AS BIGINT)
         AS n_agree,
       CAST(SUM(CASE WHEN day_sign = -agg_sign AND day_sign <> 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_reverse,
       (SUM(CASE WHEN day_sign = -agg_sign AND day_sign <> 0
                 THEN 1 ELSE 0 END) * 2 > COUNT(*)) AS paradox
FROM strata
GROUP BY type_a, type_b
ORDER BY type_a, type_b
""",
    doc="Simpson's-paradox audit over event-type pairs: aggregate "
    "mean-value ordering vs per-day stratified orderings, compared "
    "cross-multiplied on exact cent/count BIGINTs (no division, no "
    "epsilon); flags pairs where a majority of day strata reverse "
    "the aggregate conclusion.",
)
def x127_simpson_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    cells = e.groupBy(
        F.datediff(
            F.to_date("ts"), F.lit("2024-01-01").cast("date")
        ).alias("d"),
        F.col("event_type").alias("t"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
        F.count("*").cast("bigint").alias("n"),
    )
    agg = cells.groupBy("t").agg(
        F.sum("cents").cast("bigint").alias("cents"),
        F.sum("n").cast("bigint").alias("n"),
    )

    def sign(ca, na, cb, nb):
        return (
            F.when(ca * nb > cb * na, 1)
            .when(ca * nb < cb * na, -1)
            .otherwise(0)
        )

    a, b = agg.alias("a"), agg.alias("b")
    pair_agg = a.join(b, F.col("a.t") < F.col("b.t")).select(
        F.col("a.t").alias("type_a"),
        F.col("b.t").alias("type_b"),
        sign(
            F.col("a.cents"), F.col("a.n"), F.col("b.cents"), F.col("b.n")
        ).alias("agg_sign"),
    )
    ca, cb = cells.alias("ca"), cells.alias("cb")
    strata = (
        F.broadcast(pair_agg)  # bounded type-pair relation
        .join(ca, F.col("ca.t") == F.col("type_a"))
        .join(
            cb,
            (F.col("cb.t") == F.col("type_b"))
            & (F.col("cb.d") == F.col("ca.d")),
        )
        .select(
            "type_a",
            "type_b",
            "agg_sign",
            sign(
                F.col("ca.cents"),
                F.col("ca.n"),
                F.col("cb.cents"),
                F.col("cb.n"),
            ).alias("day_sign"),
        )
    )
    reverse = F.sum(
        F.when(
            (F.col("day_sign") == -F.col("agg_sign"))
            & (F.col("day_sign") != 0),
            1,
        ).otherwise(0)
    )
    return (
        strata.groupBy("type_a", "type_b")
        .agg(
            F.max("agg_sign").cast("int").alias("agg_sign"),
            F.count("*").cast("bigint").alias("n_strata"),
            F.sum(
                F.when(F.col("day_sign") == F.col("agg_sign"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_agree"),
            reverse.cast("bigint").alias("n_reverse"),
            (reverse * 2 > F.count("*")).alias("paradox"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# F71 — index of dispersion (Poisson overdispersion diagnostic)
#
# Count-model sanity: if user event counts were Poisson, the variance-
# to-mean ratio (index of dispersion) would be ~1; D = (n−1)·s²/x̄ is
# the classic chi-square-distributed dispersion statistic (Fisher).
# Per event type: per-user counts are exact BIGINTs from one hash
# aggregate, Σc and Σc² are exact, the sample variance uses the
# n-denominator-free form (nΣc² − (Σc)²)/(n(n−1)), and every ratio
# divides identical doubles. Users with zero events of a type are
# REAL zeros — the user universe comes from the full table, so each
# type's n is the same and types are comparable.
# ---------------------------------------------------------------------------


@register(
    "f71_dispersion_index",
    oracle="""
WITH universe AS (
  SELECT DISTINCT user_id FROM events
), per_user AS (
  SELECT u.user_id, t.event_type,
         CAST(COALESCE(c.cnt, 0) AS BIGINT) AS c
  FROM universe u
  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
  LEFT JOIN (
    SELECT user_id, event_type, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
  ) c ON c.user_id = u.user_id AND c.event_type = t.event_type
), s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS scc
  FROM per_user GROUP BY event_type
)
SELECT event_type, n AS n_users, sc AS n_events,
       ROUND(CAST(sc AS DOUBLE) / n, 6) AS mean_c,
       ROUND((CAST(n AS DOUBLE) * scc - CAST(sc AS DOUBLE) * sc)
             / (CAST(n AS DOUBLE) * (n - 1)), 6) AS var_c,
       ROUND(((CAST(n AS DOUBLE) * scc - CAST(sc AS DOUBLE) * sc)
              / (CAST(n AS DOUBLE) * (n - 1)))
             / (CAST(sc AS DOUBLE) / n), 6) AS dispersion,
       ROUND((n - 1) * ((CAST(n AS DOUBLE) * scc - CAST(sc AS DOUBLE) * sc)
                        / (CAST(n AS DOUBLE) * (n - 1)))
             / (CAST(sc AS DOUBLE) / n), 6) AS chi2_stat
FROM s
ORDER BY event_type
""",
    doc="Index of dispersion per event type: variance-to-mean ratio of "
    "per-user counts (real zeros from the full user universe), exact "
    "BIGINT moments, D = (n−1)·s²/x̄ — flags overdispersed event "
    "streams a Poisson capacity model would underprovision.",
)
def f71_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    universe = e.select("user_id").distinct()
    types = e.select("event_type").distinct()
    counts = e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    per_user = (
        universe.crossJoin(F.broadcast(types))  # bounded type dimension
        .join(counts, ["user_id", "event_type"], "left")
        .select(
            "event_type",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("c"),
        )
    )
    s = per_user.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    nd = F.col("n").cast("double")
    mean_c = F.col("sc").cast("double") / F.col("n")
    var_c = (nd * F.col("scc") - F.col("sc").cast("double") * F.col("sc")) / (
        nd * (F.col("n") - 1)
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_users"),
        F.col("sc").alias("n_events"),
        F.round(mean_c, 6).alias("mean_c"),
        F.round(var_c, 6).alias("var_c"),
        F.round(var_c / mean_c, 6).alias("dispersion"),
        F.round((F.col("n") - 1) * var_c / mean_c, 6).alias("chi2_stat"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# G24 — inter-arrival gap statistics (exponentiality check)
#
# f71 asks whether COUNTS are Poisson; the dual diagnostic asks
# whether GAPS are exponential: for a memoryless arrival process the
# coefficient of variation of inter-arrival times is 1 (CV > 1 =
# bursty, CV < 1 = regular). Per event type: per-user consecutive
# gaps in microseconds from a user-partitioned lag window (parallel
# across users at any scale — never a global sort), then one moment
# aggregate. Timestamps are exact integer epoch-µs (epoch_us, the
# NTZ-safe extractor), so Σg and Σg² are exact (DECIMAL(38,0) for
# the squares — µs² passes 2^53), mean/variance divide identical
# operands, and CV² is reported instead of CV: it avoids a sqrt and
# is the textbook burstiness index.
# ---------------------------------------------------------------------------


@register(
    "g24_interarrival_stats",
    oracle="""
WITH ts_us AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events
), gaps AS (
  SELECT event_type,
         us - LAG(us) OVER (PARTITION BY user_id, event_type
                            ORDER BY us, event_id) AS g
  FROM ts_us
), s AS (
  SELECT event_type, CAST(COUNT(g) AS BIGINT) AS n,
         CAST(SUM(g) AS BIGINT) AS sg,
         CAST(SUM(CAST(g AS DECIMAL(38,0)) * g) AS DECIMAL(38,0)) AS sgg
  FROM gaps WHERE g IS NOT NULL GROUP BY event_type
)
SELECT event_type, n AS n_gaps,
       CAST(sg // n AS BIGINT) AS mean_gap_us,
       ROUND((CAST(n AS DOUBLE) * CAST(sgg AS DOUBLE)
              - CAST(sg AS DOUBLE) * sg)
             / (CAST(sg AS DOUBLE) * sg), 6) AS cv2
FROM s
ORDER BY event_type
""",
    doc="Inter-arrival burstiness per event type: per-user consecutive "
    "gaps from user-partitioned lag windows on exact epoch-µs, "
    "CV² = (n·Σg² − (Σg)²)/(Σg)² computed as one shared expression — "
    "memoryless arrivals give CV² ≈ 1, bursty streams exceed it; the "
    "gap-side dual of f71's count-side Poisson check.",
)
def g24_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    ts_us = e.select(
        "user_id", "event_type", "event_id", epoch_us("ts").alias("us")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    gaps = ts_us.select(
        "event_type", (F.col("us") - F.lag("us").over(w)).alias("g")
    ).filter(F.col("g").isNotNull())
    s = gaps.groupBy("event_type").agg(
        F.count("g").cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("sg"),
        F.sum(F.col("g").cast("decimal(38,0)") * F.col("g"))
        .cast("decimal(38,0)")
        .alias("sgg"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.expr("sg div n").cast("bigint").alias("mean_gap_us"),
        F.round(
            (
                F.col("n").cast("double") * F.col("sgg").cast("double")
                - F.col("sg").cast("double") * F.col("sg")
            )
            / (F.col("sg").cast("double") * F.col("sg")),
            6,
        ).alias("cv2"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# F72 — A/B experiment readout (assignment, SRM guardrail, effect)
#
# The standing experimentation query: deterministic 50/50 hash
# assignment of customers (md5 fold mod 2 — the x15 split primitive,
# so assignment is reproducible and join-free to audit), per-arm
# conversion to "has an urgent order", and the two guardrails every
# experiment readout needs: the SAMPLE-RATIO-MISMATCH chi-square
# ((n_a−n_b)²/(n_a+n_b) for a 50/50 design — a broken bucketing
# invalidates everything downstream) and the pooled two-proportion
# z-statistic for the effect. All counts are exact BIGINTs from one
# customer-grain aggregate over a semi-joined flag; every ratio
# divides identical doubles, z = diff/√(p̂(1−p̂)(1/n_a+1/n_b)).
# ---------------------------------------------------------------------------


from calaveras_uniteus_etl_spark.functions.hashing import (  # noqa: E402
    duckdb_md5_long_sql as _duck_md5_sql,
)

_F72_FOLD = _duck_md5_sql("CAST(c_custkey AS VARCHAR)")


@register(
    "f72_ab_readout",
    oracle=f"""
WITH assign AS (
  SELECT c_custkey,
         {{fold}} % 2 AS arm
  FROM customer
), conv AS (
  SELECT a.c_custkey, a.arm,
         CASE WHEN EXISTS (
           SELECT 1 FROM orders o
           WHERE o.o_custkey = a.c_custkey
             AND o.o_orderpriority = '1-URGENT'
         ) THEN 1 ELSE 0 END AS y
  FROM assign a
), s AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS c_a,
         CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS c_b
  FROM conv
)
SELECT n_a, n_b, c_a, c_b,
       ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6)
         AS srm_chi2,
       ROUND(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
       ROUND(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
       ROUND((CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a)
             / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)), 6) AS z_stat
FROM s
""".format(fold=_F72_FOLD),
    doc="A/B readout with guardrails: deterministic md5 50/50 customer "
    "assignment, urgent-order conversion per arm, the sample-ratio-"
    "mismatch chi-square that invalidates broken bucketing, and the "
    "pooled two-proportion z-statistic — exact BIGINT counts, shared "
    "ratio expressions.",
)
def f72_ab_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.functions.hashing import md5_long

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    conv = (
        c.select("c_custkey")
        .join(urgent.withColumn("y", F.lit(1)), "c_custkey", "left")
        .select(
            (md5_long(F.col("c_custkey").cast("string")) % 2).alias("arm"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    s = conv.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("c_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("c_b"),
    )
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    rate_a = F.col("c_a").cast("double") / F.col("n_a")
    rate_b = F.col("c_b").cast("double") / F.col("n_b")
    return s.select(
        "n_a",
        "n_b",
        "c_a",
        "c_b",
        F.round(
            ((F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b")))
            .cast("double")
            / (F.col("n_a") + F.col("n_b")),
            6,
        ).alias("srm_chi2"),
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        F.round(
            (rate_b - rate_a)
            / F.sqrt(
                pooled
                * (F.lit(1.0) - pooled)
                * (
                    F.lit(1.0) / F.col("n_a")
                    + F.lit(1.0) / F.col("n_b")
                )
            ),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# F73 — CUPED variance reduction (pre-period covariate adjustment)
#
# f72 reads an experiment; CUPED (Deng et al. 2013) is how mature
# platforms make the same experiment decisive with less traffic:
# adjust the outcome by a pre-period covariate, Y' = Y − θ(X − x̄),
# θ = cov(X,Y)/var(X), cutting metric variance by ρ² — the readout
# every growth team wants BEFORE committing to a sample size. Here
# X = a customer's 1995 revenue, Y = their 1996 revenue (cents, real
# zeros for inactive years via the full customer universe). All five
# moments are exact (BIGINT cents; squared sums through DECIMAL(38,0)
# — cents² overflows 2^63 at warehouse scale), and θ, ρ², and the
# variance-reduction percentage evaluate as one shared expression
# over identical doubles. One customer-grain conditional aggregate,
# one 1-row reduce.
# ---------------------------------------------------------------------------


@register(
    "f73_cuped_readout",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey,
         CAST(COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '1995-01-01'
                                 AND o.o_orderdate < DATE '1996-01-01'
                            THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                            END), 0) AS BIGINT) AS x,
         CAST(COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '1996-01-01'
                                 AND o.o_orderdate < DATE '1997-01-01'
                            THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                            END), 0) AS BIGINT) AS y
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
  FROM per_cust
)
SELECT n AS n_customers,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * sy)
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * sx), 6) AS theta,
       ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * sy)
              * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * sy))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * sy)), 6) AS rho2,
       ROUND(100.0 * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * sy)
              * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * sy))
             / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * sy)), 4) AS var_reduction_pct
FROM s
""",
    doc="CUPED readout: theta = cov(X,Y)/var(X) and rho-squared between "
    "a customer's 1995 (pre-period) and 1996 revenue — exact cents "
    "moments with DECIMAL(38,0) squared sums, real zeros from the "
    "full customer universe; the variance-reduction a platform gains "
    "by covariate-adjusting before sizing the next f72 experiment.",
)
def f73_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    in_year = lambda y: (  # noqa: E731 - tiny local shorthand
        (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("date"))
    )
    per_cust = (
        c.select("c_custkey")
        .join(o, o.o_custkey == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(F.sum(F.when(in_year(1995), cents)), F.lit(0))
            .cast("bigint")
            .alias("x"),
            F.coalesce(F.sum(F.when(in_year(1996), cents)), F.lit(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    s = per_cust.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    varx_n = nd * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    vary_n = nd * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy")
    return s.select(
        F.col("n").alias("n_customers"),
        F.round(cov_n / varx_n, 6).alias("theta"),
        F.round((cov_n * cov_n) / (varx_n * vary_n), 6).alias("rho2"),
        F.round(
            F.lit(100.0) * (cov_n * cov_n) / (varx_n * vary_n), 4
        ).alias("var_reduction_pct"),
    )


# ---------------------------------------------------------------------------
# F74 — power analysis (sample size for the next experiment)
#
# Completes the f72/f73 experimentation suite: given the measured base
# conversion rate, the per-arm sample size a two-proportion test needs
# at α = 0.05 (two-sided), power 0.8 — n = 2(z_{α/2}+z_β)²·p̂(1−p̂)/δ²
# — for absolute MDEs of 1/2/5 points. The z constants are repr'd
# Python literals (scipy-free, libm-free); p̂ is a division of exact
# BIGINTs; each arm's n evaluates as one shared expression and rounds
# UP with ceil (undersizing an experiment is the failure mode).
# Scale shape: one 1-row aggregate + a 3-row broadcast arm relation.
# ---------------------------------------------------------------------------

_F74_Z = repr((1.959963984540054 + 0.8416212335729143) ** 2)  # (z_a/2+z_b)^2
_F74_MDES = (0.01, 0.02, 0.05)


@register(
    "f74_power_analysis",
    oracle=f"""
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
         CAST(SUM(CASE WHEN EXISTS (
           SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey
             AND o.o_orderpriority = '1-URGENT'
         ) THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
  FROM customer c
), arms AS (
  SELECT unnest([{", ".join(repr(m) for m in _F74_MDES)}]) AS mde
)
SELECT mde, n_cust, n_conv,
       ROUND(CAST(n_conv AS DOUBLE) / n_cust, 6) AS p_base,
       CAST(ceil(2.0 * {_F74_Z}
                 * (CAST(n_conv AS DOUBLE) / n_cust)
                 * (1.0 - CAST(n_conv AS DOUBLE) / n_cust)
                 / (mde * mde)) AS BIGINT) AS n_per_arm
FROM base CROSS JOIN arms
ORDER BY mde
""",
    doc="Experiment sample sizing at alpha=0.05 two-sided, power 0.8: "
    "n per arm = 2(z_a/2+z_b)^2 p(1-p)/mde^2 for 1/2/5-point absolute "
    "MDEs, with the z constants frozen as repr'd literals and the base "
    "rate an exact-integer division — closes the f72/f73 "
    "experimentation loop.",
)
def f74_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    base = (
        c.select("c_custkey")
        .join(urgent.withColumn("y", F.lit(1)), "c_custkey", "left")
        .agg(
            F.count("*").cast("bigint").alias("n_cust"),
            F.sum(F.coalesce(F.col("y"), F.lit(0)))
            .cast("bigint")
            .alias("n_conv"),
        )
    )
    arms = spark.range(len(_F74_MDES)).select(
        F.element_at(
            F.array(*[F.lit(m) for m in _F74_MDES]),
            F.col("id").cast("int") + 1,
        ).alias("mde")
    )
    p = F.col("n_conv").cast("double") / F.col("n_cust")
    return (
        base.crossJoin(F.broadcast(arms))  # 1-row scalar x 3 arms
        .select(
            "mde",
            "n_cust",
            "n_conv",
            F.round(p, 6).alias("p_base"),
            F.ceil(
                F.lit(2.0)
                * F.expr(_F74_Z)
                * p
                * (F.lit(1.0) - p)
                / (F.col("mde") * F.col("mde"))
            )
            .cast("bigint")
            .alias("n_per_arm"),
        )
        .orderBy("mde")
    )


# ---------------------------------------------------------------------------
# G25 — frequent event-type sequences (top behavioral trigrams)
#
# g7's transition matrix is the first-order (bigram) view of behavior;
# product analytics also asks "what three-step PATHS are most common?"
# — the sequential-pattern question. Per user, consecutive event-type
# trigrams via two LEAD windows (user-partitioned — parallel at any
# scale, the g10/g24 contract, with (ts, event_id) total order inside
# each user), then one global count and a top-10 with a full
# tie-break. Sequence support (distinct users) rides along so bursty
# single users can't dominate the read.
# ---------------------------------------------------------------------------

_G25_TOPK = 10


@register(
    "g25_event_trigrams",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type AS e1,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), tri AS (
  SELECT user_id, e1, e2, e3 FROM seq WHERE e3 IS NOT NULL
)
SELECT e1, e2, e3,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM tri
GROUP BY e1, e2, e3
ORDER BY n_occurrences DESC, e1, e2, e3
LIMIT {_G25_TOPK}
""",
    doc="Top behavioral trigrams: per-user consecutive event-type "
    "3-sequences from two LEAD windows (user-partitioned, (ts, "
    "event_id) total order), counted globally with distinct-user "
    f"support, top-{_G25_TOPK} under a full tie-break — the "
    "sequential-pattern view beside g7's one-step transition matrix.",
)
def g25_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), "e1", "e2", "e3")
        .limit(_G25_TOPK)
    )


# ---------------------------------------------------------------------------
# M16 — partition-gap audit (data completeness over the date grid)
#
# m10 audits freshness (is the LATEST data here?); the other
# completeness failure is a HOLE — a day that loaded nothing for one
# stream while its neighbors are fine. Per event type: the expected
# day grid (global min..max, one broadcast sequence — never a
# data-sized window), present days, missing days, and the first/last
# missing day for triage (NULL-free sentinels: -1 when complete, so
# the audit row hashes deterministically). On the synthetic feed every
# stream is complete — the green audit is the point, exactly like
# m13's zero-orphan proof.
# ---------------------------------------------------------------------------


@register(
    "m16_partition_gaps",
    oracle="""
WITH act AS (
  SELECT DISTINCT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d
  FROM events
), bounds AS (
  SELECT MIN(d) AS lo, MAX(d) AS hi FROM act
), grid AS (
  SELECT t.event_type, g.d
  FROM (SELECT DISTINCT event_type FROM act) t
  CROSS JOIN (SELECT unnest(generate_series(
        (SELECT lo FROM bounds), (SELECT hi FROM bounds))) AS d) g
), missing AS (
  SELECT g.event_type, g.d
  FROM grid g LEFT JOIN act a
    ON a.event_type = g.event_type AND a.d = g.d
  WHERE a.d IS NULL
)
SELECT t.event_type,
       (SELECT hi - lo + 1 FROM bounds) AS expected_days,
       CAST(COUNT(a.d) AS BIGINT) AS present_days,
       CAST((SELECT hi - lo + 1 FROM bounds) - COUNT(a.d) AS BIGINT)
         AS missing_days,
       CAST(COALESCE((SELECT MIN(m.d) FROM missing m
                      WHERE m.event_type = t.event_type), -1) AS BIGINT)
         AS first_gap_day,
       CAST(COALESCE((SELECT MAX(m.d) FROM missing m
                      WHERE m.event_type = t.event_type), -1) AS BIGINT)
         AS last_gap_day
FROM (SELECT DISTINCT event_type FROM act) t
LEFT JOIN act a ON a.event_type = t.event_type
GROUP BY t.event_type
ORDER BY t.event_type
""",
    doc="Partition-gap audit: per event type, expected day grid "
    "(global min..max broadcast sequence) vs present days, missing "
    "count and first/last gap day (-1 sentinels when complete) — "
    "catches the silent hole m10's freshness lag cannot; the "
    "completeness sibling of m13's zero-orphan proof.",
)
def m16_partition_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    act = e.select(
        "event_type",
        F.datediff(
            F.to_date("ts"), F.lit("2024-01-01").cast("date")
        ).alias("d"),
    ).distinct()
    bounds = act.agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )  # 1-row scalar
    types = act.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d"),
            (F.col("hi") - F.col("lo") + 1).alias("expected_days"),
        )
    )
    missing = grid.join(act, ["event_type", "d"], "left_anti")
    miss_stats = missing.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("missing_days"),
        F.min("d").cast("bigint").alias("first_gap_day"),
        F.max("d").cast("bigint").alias("last_gap_day"),
    )
    present = act.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("present_days")
    )
    return (
        grid.select("event_type", "expected_days")
        .distinct()
        .join(present, "event_type")
        .join(miss_stats, "event_type", "left")
        .select(
            "event_type",
            F.col("expected_days").cast("bigint").alias("expected_days"),
            "present_days",
            F.coalesce("missing_days", F.lit(0))
            .cast("bigint")
            .alias("missing_days"),
            F.coalesce("first_gap_day", F.lit(-1))
            .cast("bigint")
            .alias("first_gap_day"),
            F.coalesce("last_gap_day", F.lit(-1))
            .cast("bigint")
            .alias("last_gap_day"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# F75 — day-of-week uniformity (chi-square goodness of fit)
#
# The inference suite has independence (f34), ANOVA (f49), rank tests
# (f45/f67); the missing member is GOODNESS OF FIT against a stated
# model: are orders uniform over the day of week, or does the feed
# have a weekly pulse? χ² = Σ (O_d − E)²/E with E = N/7. The exact
# form avoids the fractional E: χ² = (7·Σ O_d² − N²) / N — pure
# integer numerator (BIGINT, O² ≤ N²), one division of identical
# operands. Day-of-week uses dayofweek() on both engines (Sunday=1
# contract on each). One bounded 7-row aggregate.
# ---------------------------------------------------------------------------


@register(
    "f75_dow_uniformity",
    oracle="""
WITH d AS (
  SELECT dayofweek(o_orderdate) AS dow, CAST(COUNT(*) AS BIGINT) AS o
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(o * o) AS BIGINT) AS oo,
         CAST(MIN(o) AS BIGINT) AS min_day, CAST(MAX(o) AS BIGINT) AS max_day
  FROM d
)
SELECT n AS n_orders, k AS n_days_present, min_day, max_day,
       ROUND((7.0 * oo - CAST(n AS DOUBLE) * n) / n, 6) AS chi2_stat,
       CAST(6 AS INT) AS df
FROM s
""",
    doc="Chi-square goodness of fit of order volume against a uniform "
    "day-of-week model: exact integer form (7·ΣO² − N²)/N — no "
    "fractional expected counts — plus min/max day volumes; the "
    "goodness-of-fit member of the f34/f45/f49/f67 inference suite.",
)
def f75_dow_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    d = o.groupBy(F.dayofweek("o_orderdate").alias("dow")).agg(
        F.count("*").cast("bigint").alias("o")
    )
    s = d.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(F.col("o") * F.col("o")).cast("bigint").alias("oo"),
        F.min("o").cast("bigint").alias("min_day"),
        F.max("o").cast("bigint").alias("max_day"),
    )
    return s.select(
        F.col("n").alias("n_orders"),
        F.col("k").alias("n_days_present"),
        "min_day",
        "max_day",
        F.round(
            (F.lit(7.0) * F.col("oo") - F.col("n").cast("double") * F.col("n"))
            / F.col("n"),
            6,
        ).alias("chi2_stat"),
        F.lit(6).cast("int").alias("df"),
    )


# ---------------------------------------------------------------------------
# F76 — Herfindahl-Hirschman concentration index
#
# f35's Gini measures inequality of the distribution; HHI = Σ share²
# is the antitrust/portfolio standard for CONCENTRATION ("could one
# participant's failure sink the metric?") and is the number a data
# platform watches for source dependence. Computed for revenue by
# nation: exact cent totals per nation, then HHI = Σ c_i² / (Σ c_i)²
# — the share never materializes, both engines divide identical
# integer-derived doubles (cents² through DECIMAL(38,0)). Also in
# basis points (×10 000, the reporting convention) and the effective
# number of participants 1/HHI. One bounded nation-grain aggregate.
# ---------------------------------------------------------------------------


@register(
    "f76_hhi_concentration",
    oracle="""
WITH per_nation AS (
  SELECT n.n_name,
         CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(cents) AS BIGINT) AS tot,
         CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0))
           AS cc
  FROM per_nation
)
SELECT k AS n_nations, tot AS total_cents,
       ROUND(CAST(cc AS DOUBLE) / (CAST(tot AS DOUBLE) * tot), 6) AS hhi,
       ROUND(10000.0 * CAST(cc AS DOUBLE) / (CAST(tot AS DOUBLE) * tot), 2)
         AS hhi_bps,
       ROUND((CAST(tot AS DOUBLE) * tot) / CAST(cc AS DOUBLE), 4)
         AS effective_n
FROM s
""",
    doc="Herfindahl-Hirschman index of revenue concentration by nation: "
    "HHI = Σc²/(Σc)² on exact cent totals (DECIMAL(38,0) squares, "
    "shares never materialize), in raw and basis-point form plus the "
    "effective participant count 1/HHI — the concentration sibling of "
    "f35's Gini.",
)
def f76_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    per_nation = (
        o.join(c, c.c_custkey == o.o_custkey)
        .join(
            F.broadcast(n), n.n_nationkey == c.c_nationkey
        )
        .groupBy("n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    s = per_nation.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("cents").cast("bigint").alias("tot"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("cc"),
    )
    hhi = F.col("cc").cast("double") / (
        F.col("tot").cast("double") * F.col("tot")
    )
    return s.select(
        F.col("k").alias("n_nations"),
        F.col("tot").alias("total_cents"),
        F.round(hhi, 6).alias("hhi"),
        F.round(F.lit(10000.0) * hhi, 2).alias("hhi_bps"),
        F.round(
            (F.col("tot").cast("double") * F.col("tot"))
            / F.col("cc").cast("double"),
            4,
        ).alias("effective_n"),
    )


# ---------------------------------------------------------------------------
# G26 — time to first purchase (activation latency histogram)
#
# Activation is THE early product metric: how long from a user's
# first signup event to their first purchase? Per user: min signup
# ts, min purchase ts AFTER it (exact epoch-µs, user-grain
# aggregates — no window needed for firsts), the latency bucketed to
# whole hours, plus the never-converted census. The histogram is
# bounded by the observation window in hours; -1 buckets the
# never-converted so the census rides in the same relation.
# ---------------------------------------------------------------------------


@register(
    "g26_time_to_first_purchase",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS s_us,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p_us
  FROM events GROUP BY user_id
), lat AS (
  SELECT user_id,
         CASE WHEN s_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= s_us
              THEN (p_us - s_us) // 3600000000 ELSE -1 END AS hours_bucket
  FROM firsts
  WHERE s_us IS NOT NULL
)
SELECT CAST(hours_bucket AS BIGINT) AS hours_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM lat
GROUP BY hours_bucket
ORDER BY hours_bucket
""",
    doc="Activation latency: hours from each user's first signup to "
    "their first subsequent purchase (exact epoch-µs firsts from one "
    "user-grain aggregate, integer-hour buckets, -1 = signed up but "
    "never converted) — the bounded histogram behind an activation "
    "funnel.",
)
def g26_time_to_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", epoch_us("ts"))
        ).alias("s_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", epoch_us("ts"))
        ).alias("p_us"),
    )
    lat = firsts.filter(F.col("s_us").isNotNull()).select(
        F.when(
            F.col("p_us").isNotNull() & (F.col("p_us") >= F.col("s_us")),
            F.expr("(p_us - s_us) div 3600000000"),
        )
        .otherwise(-1)
        .alias("hours_bucket")
    )
    return (
        lat.groupBy("hours_bucket")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .select(
            F.col("hours_bucket").cast("bigint").alias("hours_bucket"),
            "n_users",
        )
        .orderBy("hours_bucket")
    )


# ---------------------------------------------------------------------------
# F77 — negative-binomial fit (method of moments)
#
# f71 DETECTS overdispersion; the follow-up question is "then what
# model?" — the standard count model is the negative binomial, and
# its method-of-moments fit is closed-form: r = x̄²/(s² − x̄),
# p = x̄/s². Per event type over per-user counts (f71's universe with
# real zeros): exact BIGINT moments, one shared expression per
# parameter, plus the fitted P(0) = p^r via exp(r·ln p) with the ln
# micro-quantized (x81 contract) against the OBSERVED zero fraction —
# the one-line goodness check a capacity planner actually reads.
# Types where s² ≤ x̄ (no overdispersion) report r/p as -1 sentinels.
# ---------------------------------------------------------------------------


@register(
    "f77_negbin_fit",
    oracle="""
WITH universe AS (
  SELECT DISTINCT user_id FROM events
), per_user AS (
  SELECT u.user_id, t.event_type, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS c
  FROM universe u
  CROSS JOIN (SELECT DISTINCT event_type FROM events) t
  LEFT JOIN (SELECT user_id, event_type, COUNT(*) AS cnt
             FROM events GROUP BY 1, 2) c
    ON c.user_id = u.user_id AND c.event_type = t.event_type
), s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(c * c) AS BIGINT) AS scc,
         CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
  FROM per_user GROUP BY event_type
), mom AS (
  SELECT event_type, n, sc, scc, zeros,
         CAST(sc AS DOUBLE) / n AS mean_c,
         (CAST(n AS DOUBLE) * scc - CAST(sc AS DOUBLE) * sc)
           / (CAST(n AS DOUBLE) * (n - 1)) AS var_c
  FROM s
)
SELECT event_type, n AS n_users,
       ROUND(mean_c, 6) AS mean_c,
       ROUND(var_c, 6) AS var_c,
       ROUND(CASE WHEN var_c > mean_c
                  THEN mean_c * mean_c / (var_c - mean_c)
                  ELSE -1 END, 6) AS r_hat,
       ROUND(CASE WHEN var_c > mean_c THEN mean_c / var_c ELSE -1 END, 6)
         AS p_hat,
       ROUND(CAST(zeros AS DOUBLE) / n, 6) AS zero_frac_obs,
       ROUND(CASE WHEN var_c > mean_c
             THEN exp((mean_c * mean_c / (var_c - mean_c))
                      * (CAST(round(ln(mean_c / var_c) * 1000000) AS BIGINT)
                         / 1000000.0))
             ELSE -1 END, 6) AS zero_frac_fit
FROM mom
ORDER BY event_type
""",
    doc="Negative-binomial method-of-moments fit per event type over "
    "per-user counts (real zeros): r = m²/(s²−m), p = m/s², with the "
    "fitted zero probability p^r via exp(r·micro-quantized ln p) "
    "beside the observed zero fraction — the model a capacity planner "
    "fits after f71 flags overdispersion; -1 sentinels when the data "
    "is not overdispersed.",
)
def f77_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    universe = e.select("user_id").distinct()
    types = e.select("event_type").distinct()
    counts = e.groupBy("user_id", "event_type").agg(
        F.count("*").alias("cnt")
    )
    per_user = (
        universe.crossJoin(F.broadcast(types))
        .join(counts, ["user_id", "event_type"], "left")
        .select(
            "event_type",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("c"),
        )
    )
    s = per_user.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
        F.sum(F.when(F.col("c") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("zeros"),
    )
    nd = F.col("n").cast("double")
    mean_c = F.col("sc").cast("double") / F.col("n")
    var_c = (nd * F.col("scc") - F.col("sc").cast("double") * F.col("sc")) / (
        nd * (F.col("n") - 1)
    )
    over = var_c > mean_c
    r_hat = mean_c * mean_c / (var_c - mean_c)
    ln_p_micro = (
        F.round(F.log(mean_c / var_c) * 1e6).cast("bigint") / F.lit(1e6)
    )
    return (
        s.select(
            "event_type",
            F.col("n").alias("n_users"),
            F.round(mean_c, 6).alias("mean_c"),
            F.round(var_c, 6).alias("var_c"),
            F.round(F.when(over, r_hat).otherwise(-1), 6).alias("r_hat"),
            F.round(
                F.when(over, mean_c / var_c).otherwise(-1), 6
            ).alias("p_hat"),
            F.round(
                F.col("zeros").cast("double") / F.col("n"), 6
            ).alias("zero_frac_obs"),
            F.round(
                F.when(over, F.exp(r_hat * ln_p_micro)).otherwise(-1), 6
            ).alias("zero_frac_fit"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# M17 — expectation battery (declarative data-quality gate)
#
# The "expectations" pattern (cf. Great Expectations): a load is
# gated by a battery of declared invariants, each returning checked/
# violation counts and a pass flag in ONE relation — the artifact a
# scheduler consumes. Checks are declared as (name, table, predicate)
# data and expanded into per-table single-pass conditional aggregates
# (one scan per table regardless of how many checks it carries), then
# unioned on the bounded check grain. The battery here covers the
# classic four failure classes: domain bounds (price > 0, 0 ≤
# discount ≤ 0.1, 1 ≤ quantity ≤ 50, value > 0), set membership
# (returnflag, orderpriority enums), range sanity (order dates inside
# the business window), and null keys. All-green on the synthetic
# feed — the proving audit, like m13/m16.
# ---------------------------------------------------------------------------

_M17_CHECKS: list[tuple[str, str, str]] = [
    # (check name, table, VIOLATION predicate — same text both engines)
    ("customer_key_not_null", "customer", "c_custkey IS NULL"),
    ("customer_mktsegment_enum", "customer",
     "c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE',"
     "'HOUSEHOLD','MACHINERY')"),
    ("events_value_positive", "events", "value <= 0 OR value IS NULL"),
    ("lineitem_discount_domain", "lineitem",
     "l_discount < 0 OR l_discount > 0.1"),
    ("lineitem_quantity_domain", "lineitem",
     "l_quantity < 1 OR l_quantity > 50"),
    ("lineitem_returnflag_enum", "lineitem",
     "l_returnflag NOT IN ('A','N','R')"),
    ("orders_date_window", "orders",
     "o_orderdate < DATE '1990-01-01' OR o_orderdate >= DATE '2010-01-01'"),
    ("orders_price_positive", "orders", "o_totalprice <= 0"),
    ("orders_priority_enum", "orders",
     "o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM',"
     "'4-NOT SPECIFIED','5-LOW')"),
]


def _m17_oracle() -> str:
    by_table: dict[str, list[tuple[str, str]]] = {}
    for name, tbl, pred in _M17_CHECKS:
        by_table.setdefault(tbl, []).append((name, pred))
    parts = []
    for tbl, checks in by_table.items():
        for name, pred in checks:
            parts.append(
                f"SELECT '{name}' AS check_name,"
                f" CAST(COUNT(*) AS BIGINT) AS n_checked,"
                f" CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS n_violations,"
                f" SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) = 0 AS passed"
                f" FROM {tbl}"
            )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY check_name"


@register(
    "m17_expectation_battery",
    oracle=_m17_oracle(),
    doc="Declarative expectation battery: 9 invariants (domain bounds, "
    "enum membership, date windows, null keys) expanded from a checks-"
    "as-data list into per-table conditional aggregates, one bounded "
    "relation of checked/violation counts and pass flags — the "
    "scheduler-facing gate in the m13/m16 proving-audit family.",
)
def m17_expectation_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    by_table: dict[str, list[tuple[str, str]]] = {}
    for name, tbl, pred in _M17_CHECKS:
        by_table.setdefault(tbl, []).append((name, pred))
    parts = []
    for tbl, checks in by_table.items():
        df = table(spark, sf_dir, tbl)
        # one scan per table: all its checks ride one aggregate
        agg = df.agg(
            F.count("*").cast("bigint").alias("n_checked"),
            *[
                F.sum(F.when(F.expr(pred), 1).otherwise(0))
                .cast("bigint")
                .alias(f"v_{i}")
                for i, (_, pred) in enumerate(checks)
            ],
        )
        for i, (name, _) in enumerate(checks):
            parts.append(
                agg.select(
                    F.lit(name).alias("check_name"),
                    "n_checked",
                    F.col(f"v_{i}").alias("n_violations"),
                    (F.col(f"v_{i}") == 0).alias("passed"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("check_name")


# ---------------------------------------------------------------------------
# G27 — ship-latency percentiles (exact, bounded value grain)
#
# "How long from order to ship, by priority?" — the operations
# question behind every SLA. Latency in whole days is a BOUNDED
# domain (TPC-H ships within ~4 months), so exact p50/p90/p99 need no
# sketch and no global sort: one (priority, latency) hash aggregate,
# a priority-partitioned cumulative over the ≤ ~125-row value grain,
# and each percentile is the smallest latency whose cumulative count
# reaches ceil(q·N/100) — located by a min-aggregate, all integers.
# ---------------------------------------------------------------------------

_G27_QS = (50, 90, 99)


@register(
    "g27_ship_latency_percentiles",
    oracle=f"""
WITH lat AS (
  SELECT o.o_orderpriority AS priority,
         date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
), cum AS (
  SELECT priority, d, c,
         CAST(SUM(c) OVER (PARTITION BY priority ORDER BY d) AS BIGINT)
           AS cum,
         CAST(SUM(c) OVER (PARTITION BY priority) AS BIGINT) AS n
  FROM lat
), arms AS (
  SELECT unnest([{", ".join(str(q) for q in _G27_QS)}]) AS q
)
SELECT priority, CAST(q AS INT) AS q, MAX(n) AS n_lines,
       CAST(MIN(CASE WHEN cum >= (q * n + 99) // 100 THEN d END) AS BIGINT)
         AS latency_days
FROM cum CROSS JOIN arms
GROUP BY priority, q
ORDER BY priority, q
""",
    doc="Exact ship-latency percentiles per order priority: the "
    "(priority, whole-day latency) grain is bounded, so p50/p90/p99 "
    "come from a priority-partitioned cumulative plus a min-locate — "
    "all integers, no sketch, no global sort; the SLA view beside "
    "f6's avg/min/max.",
)
def g27_ship_latency_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    lat = (
        li.join(o, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.to_date("l_shipdate"), F.to_date("o_orderdate")
            ).alias("d"),
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # bounded (priority, latency-day) grain windows
    w_cum = (
        Window.partitionBy("priority")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("priority")
    cum = lat.select(
        "priority",
        "d",
        F.sum("c").over(w_cum).cast("bigint").alias("cum"),
        F.sum("c").over(w_all).cast("bigint").alias("n"),
    )
    arms = spark.range(len(_G27_QS)).select(
        F.element_at(
            F.array(*[F.lit(q) for q in _G27_QS]),
            F.col("id").cast("int") + 1,
        ).alias("q")
    )
    rank = F.expr("(q * n + 99) div 100")
    return (
        cum.crossJoin(F.broadcast(arms))
        .groupBy("priority", "q")
        .agg(
            F.max("n").alias("n_lines"),
            F.min(F.when(F.col("cum") >= rank, F.col("d")))
            .cast("bigint")
            .alias("latency_days"),
        )
        .select(
            "priority",
            F.col("q").cast("int").alias("q"),
            "n_lines",
            "latency_days",
        )
        .orderBy("priority", "q")
    )


# ---------------------------------------------------------------------------
# F78 — Wilcoxon signed-rank test (paired, distributed ranks)
#
# The inference suite's PAIRED member: did the same customers spend
# differently in 1996 than 1995? (f45's Mann-Whitney assumes
# independent groups; pairing removes between-customer variance.)
# Zero diffs drop (standard Wilcoxon); |d| reduces to its value grain
# (one hash aggregate), exact integer mid-ranks mr2 = 2·cum_before +
# t + 1 come from the DISTRIBUTED prefix operator over the (|d|)
# total order — the f62 machinery, no single-partition window — and
# W⁺ is the exact BIGINT Σ pos_t·mr2 (kept doubled to stay integral
# under mid-rank halves). The normal approximation
# z = (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24 − Σ(t³−t)/48) divides
# identical doubles, 6dp.
# ---------------------------------------------------------------------------


@register(
    "f78_wilcoxon_signed_rank",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey,
         CAST(COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '1995-01-01'
                                 AND o.o_orderdate < DATE '1996-01-01'
                            THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                            END), 0) AS BIGINT) AS x,
         CAST(COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '1996-01-01'
                                 AND o.o_orderdate < DATE '1997-01-01'
                            THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                            END), 0) AS BIGINT) AS y
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
), diffs AS (
  SELECT y - x AS d, ABS(y - x) AS absd FROM per_cust WHERE y <> x
), vg AS (
  SELECT absd, CAST(COUNT(*) AS BIGINT) AS t,
         CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos_t
  FROM diffs GROUP BY absd
), cum AS (
  SELECT absd, t, pos_t,
         CAST(SUM(t) OVER (ORDER BY absd) AS BIGINT) AS gcum
  FROM vg
), s AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(pos_t * (2 * (gcum - t) + t + 1)) AS BIGINT) AS w2p,
         CAST(SUM(t * t * t - t) AS BIGINT) AS t3
  FROM cum
)
SELECT n AS n_pairs, w2p AS w2_plus, t3 AS tie_cubes,
       ROUND((w2p / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4)
             / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                    - CAST(t3 AS DOUBLE) / 48), 6) AS z_stat
FROM s
""",
    doc="Wilcoxon signed-rank on paired customer spend (1995 vs 1996 "
    "cents): zero diffs dropped, exact integer mid-ranks over the "
    "|d| value grain via the distributed prefix operator (f62 "
    "machinery — no single-partition window on the Spark side), "
    "doubled rank sum kept BIGINT, tie-corrected normal z — the "
    "paired member beside f45's independent-groups Mann-Whitney.",
)
def f78_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    in_year = lambda y: (  # noqa: E731 - tiny local shorthand
        (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("date"))
    )
    per_cust = (
        c.select("c_custkey")
        .join(o, o.o_custkey == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(F.sum(F.when(in_year(1995), cents)), F.lit(0))
            .cast("bigint")
            .alias("x"),
            F.coalesce(F.sum(F.when(in_year(1996), cents)), F.lit(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    diffs = per_cust.filter(F.col("y") != F.col("x")).select(
        (F.col("y") - F.col("x")).alias("d"),
        F.abs(F.col("y") - F.col("x")).alias("absd"),
    )
    vg = diffs.groupBy("absd").agg(
        F.count("*").cast("bigint").alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("pos_t"),
    )
    cum = prefix_rank(
        vg,
        [F.asc("absd")],
        value="t",
        cum_col="gcum",
        pin_input=True,  # two scans+aggs above would run 2x in sampling
    )
    s = cum.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(
            F.col("pos_t")
            * (2 * (F.col("gcum") - F.col("t")) + F.col("t") + 1)
        )
        .cast("bigint")
        .alias("w2p"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("t3"),
    )
    nd = F.col("n").cast("double")
    z = (
        F.col("w2p") / F.lit(2.0) - nd * (F.col("n") + 1) / 4
    ) / F.sqrt(
        nd * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24
        - F.col("t3").cast("double") / 48
    )
    return s.select(
        F.col("n").alias("n_pairs"),
        F.col("w2p").alias("w2_plus"),
        F.col("t3").alias("tie_cubes"),
        F.round(z, 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# G28 — maximum drawdown (peak-to-trough of the cumulative series)
#
# f63 prices tail DAYS (VaR/ES); risk reviews also ask about the
# worst SUSTAINED stretch: the maximum drawdown of cumulative net
# flow — here daily revenue vs its running mean as the flow proxy
# (pure revenue never draws down; subtracting the global daily mean
# makes the series mean-zero so drawdowns are meaningful). All on the
# f48 integer-dollar day grain: cumulative sums are exact after
# scaling by the day count (y·D − T keeps everything integer — no
# division), running max is an integer window, drawdown = runmax −
# cum, and the argmax resolves (depth, day) totally. Day-grain
# windows only (calendar-bounded).
# ---------------------------------------------------------------------------


@register(
    "g28_max_drawdown",
    oracle="""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(SUM(y) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS nd
  FROM daily
), centered AS (
  -- flow scaled by nd: y*nd - t is integer and mean-zero
  SELECT d, y * tot.nd - tot.t AS f FROM daily CROSS JOIN tot
), cum AS (
  SELECT d,
         CAST(SUM(f) OVER (ORDER BY d) AS BIGINT) AS c
  FROM centered
), dd AS (
  SELECT d, c,
         CAST(MAX(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS runmax
  FROM cum
), worst AS (
  SELECT d AS trough_day, runmax - c AS depth_scaled
  FROM dd ORDER BY runmax - c DESC, d ASC LIMIT 1
)
SELECT (SELECT nd FROM tot) AS n_days,
       CAST(w.trough_day AS BIGINT) AS trough_day,
       CAST(w.depth_scaled AS BIGINT) AS depth_scaled,
       ROUND(CAST(w.depth_scaled AS DOUBLE) / (SELECT nd FROM tot), 4)
         AS depth_dollars
FROM worst w
""",
    doc="Maximum drawdown of cumulative mean-centered daily revenue: "
    "the flow is scaled by the day count (y·D − T) so cumulative sums "
    "and the running max stay exact integers with no division, the "
    "worst (depth, day) resolves under a total order, and the dollar "
    "depth is one final division — the sustained-stretch risk view "
    "beside f63's per-day VaR; calendar-bounded day-grain windows.",
)
def g28_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.round(
            F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0
        )
        .cast("bigint")
        .alias("y")
    )
    tot = daily.agg(
        F.sum("y").cast("bigint").alias("t"),
        F.count("*").cast("bigint").alias("nd"),
    )
    centered = daily.crossJoin(F.broadcast(tot)).select(
        "d",
        (F.col("y") * F.col("nd") - F.col("t")).alias("f"),
        "nd",
    )
    # calendar-bounded day-grain windows (f48/f51 contract)
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    dd = centered.select(
        "d",
        "nd",
        F.sum("f").over(w_cum).cast("bigint").alias("c"),
    ).select(
        "d",
        "nd",
        "c",
        F.max("c").over(w_cum).cast("bigint").alias("runmax"),
    )
    worst = (
        dd.select(
            "nd",
            F.col("d").alias("trough_day"),
            (F.col("runmax") - F.col("c")).alias("depth_scaled"),
        )
        .orderBy(F.desc("depth_scaled"), F.asc("trough_day"))
        .limit(1)
    )
    return worst.select(
        F.col("nd").alias("n_days"),
        F.col("trough_day").cast("bigint").alias("trough_day"),
        F.col("depth_scaled").cast("bigint").alias("depth_scaled"),
        F.round(
            F.col("depth_scaled").cast("double") / F.col("nd"), 4
        ).alias("depth_dollars"),
    )


# ---------------------------------------------------------------------------
# F80 — partial correlation (controlling for a confounder)
#
# The correlation family (f26 OLS, f48 ACF, f61 Spearman, f68 lead-
# lag) lacks its confounder-aware member: does quantity correlate
# with line revenue ONCE DISCOUNT IS HELD FIXED? Partial correlation
# is closed-form from the three pairwise Pearson r's:
# r_xy.z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)). All three come
# from ONE pass of exact integer moments (quantity integral, price
# cents, discount in basis points — products through DECIMAL(38,0))
# and the final expression divides identical doubles, 6dp.
# ---------------------------------------------------------------------------


@register(
    "f80_partial_correlation",
    oracle="""
WITH v AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
         CAST(round(l_discount * 10000) AS BIGINT) AS z
  FROM lineitem
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS sxz,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS syz,
         CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
         CAST(SUM(CAST(z AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) AS szz
  FROM v
), r AS (
  SELECT n,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * sy)
         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * sy)) AS r_xy,
         (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
          - CAST(sx AS DOUBLE) * sz)
         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                   - CAST(sz AS DOUBLE) * sz)) AS r_xz,
         (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
          - CAST(sy AS DOUBLE) * sz)
         / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * sy)
                * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                   - CAST(sz AS DOUBLE) * sz)) AS r_yz
  FROM s
)
SELECT n AS n_lines,
       ROUND(r_xy, 6) AS r_xy,
       ROUND(r_xz, 6) AS r_xz,
       ROUND(r_yz, 6) AS r_yz,
       ROUND((r_xy - r_xz * r_yz)
             / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)), 6)
         AS r_xy_given_z
FROM r
""",
    doc="Partial correlation of quantity vs line revenue controlling "
    "for discount: the three Pearson r's from ONE pass of exact "
    "integer moments (cents / basis points, DECIMAL(38,0) products), "
    "then the closed-form r_xy.z — the confounder-aware member of "
    "the correlation family.",
)
def f80_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
        F.round(F.col("l_discount") * 10000).cast("bigint").alias("z"),
    )

    def dprod(a, b):
        return (
            F.sum(F.col(a).cast("decimal(38,0)") * F.col(b))
            .cast("decimal(38,0)")
            .alias(f"s{a}{b}")
        )

    s = v.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("z").cast("bigint").alias("sz"),
        dprod("x", "y"),
        dprod("x", "z"),
        dprod("y", "z"),
        dprod("x", "x"),
        dprod("y", "y"),
        dprod("z", "z"),
    )
    nd = F.col("n").cast("double")

    def pear(sab, sa, sb, saa, sbb):
        num = nd * F.col(sab).cast("double") - F.col(sa).cast(
            "double"
        ) * F.col(sb)
        den = F.sqrt(
            (nd * F.col(saa).cast("double") - F.col(sa).cast("double") * F.col(sa))
            * (nd * F.col(sbb).cast("double") - F.col(sb).cast("double") * F.col(sb))
        )
        return num / den

    r = s.select(
        "n",
        pear("sxy", "sx", "sy", "sxx", "syy").alias("r_xy"),
        pear("sxz", "sx", "sz", "sxx", "szz").alias("r_xz"),
        pear("syz", "sy", "sz", "syy", "szz").alias("r_yz"),
    )
    return r.select(
        F.col("n").alias("n_lines"),
        F.round("r_xy", 6).alias("r_xy"),
        F.round("r_xz", 6).alias("r_xz"),
        F.round("r_yz", 6).alias("r_yz"),
        F.round(
            (F.col("r_xy") - F.col("r_xz") * F.col("r_yz"))
            / F.sqrt(
                (F.lit(1.0) - F.col("r_xz") * F.col("r_xz"))
                * (F.lit(1.0) - F.col("r_yz") * F.col("r_yz"))
            ),
            6,
        ).alias("r_xy_given_z"),
    )


# ---------------------------------------------------------------------------
# G29 — rolling z-score anomaly days (trailing-window control chart)
#
# The monitoring primitive behind every alert rule: flag days whose
# revenue sits k·σ from the TRAILING week's mean (the trailing frame
# excludes today — an anomaly must not mask itself). On the f48
# integer-dollar day grain: trailing Σy and Σy² are exact BIGINTs
# from ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING, the sample variance
# uses the n-denominator-free integer form, and the flag compares
# CROSS-MULTIPLIED integers — (n·y − Σy)² vs k²·n·(nΣy² − (Σy)²)/(n−1)
# rearranged to avoid ALL division: (n−1)·(n·y − Σy)² > k²·n·(nΣy²−(Σy)²).
# Output: flagged days with their deviation in exact scaled units.
# Day-grain windows only (calendar-bounded).
# ---------------------------------------------------------------------------

_G29_K2 = 4  # k = 2 sigma, squared (integer)


@register(
    "g29_anomaly_days",
    oracle=f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y
  FROM orders GROUP BY 1
), trail AS (
  SELECT d, y,
         CAST(COUNT(y) OVER w AS BIGINT) AS n,
         CAST(SUM(y) OVER w AS BIGINT) AS sy,
         CAST(SUM(y * y) OVER w AS BIGINT) AS syy
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT CAST(d AS BIGINT) AS d, y,
       CAST(n * y - sy AS BIGINT) AS dev_scaled,
       CAST((n - 1) * (n * y - sy) * (n * y - sy) AS BIGINT) AS lhs,
       CAST({_G29_K2} * n * (n * syy - sy * sy) AS BIGINT) AS rhs
FROM trail
WHERE n >= 5
  AND (n - 1) * (n * y - sy) * (n * y - sy)
      > {_G29_K2} * n * (n * syy - sy * sy)
ORDER BY d
""",
    doc="Trailing-week control chart: days whose revenue deviates more "
    "than 2σ from the PRECEDING 7 days (frame excludes today so an "
    "anomaly cannot mask itself), decided entirely by cross-"
    "multiplied integer comparison — (n−1)(ny−Σy)² > k²n(nΣy²−(Σy)²), "
    "no division, no sqrt; the alert-rule primitive beside f30/f51.",
)
def g29_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.round(
            F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0
        )
        .cast("bigint")
        .alias("y")
    )
    # calendar-bounded day-grain window, trailing frame excludes today
    w = Window.orderBy("d").rowsBetween(-7, -1)
    trail = daily.select(
        "d",
        "y",
        F.count("y").over(w).cast("bigint").alias("n"),
        F.sum("y").over(w).cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("bigint").alias("syy"),
    )
    dev = F.col("n") * F.col("y") - F.col("sy")
    lhs = (F.col("n") - 1) * dev * dev
    rhs = (
        F.lit(_G29_K2)
        * F.col("n")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return (
        trail.filter((F.col("n") >= 5) & (lhs > rhs))
        .select(
            F.col("d").cast("bigint").alias("d"),
            "y",
            dev.cast("bigint").alias("dev_scaled"),
            lhs.cast("bigint").alias("lhs"),
            rhs.cast("bigint").alias("rhs"),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# F81 — effect sizes (Cohen's d, Hedges' g)
#
# The inference suite answers "is there a difference?"; the decision-
# maker's question is "HOW BIG?" — standardized effect sizes. Between
# urgent and non-urgent order values: Cohen's d = (x̄₁−x̄₂)/s_pooled
# with the pooled SD from exact cent moments, and Hedges' g applies
# the small-sample correction J ≈ 1 − 3/(4·df − 1) (the standard
# rational approximation — algebraic, no gamma function, identical
# on both engines). Every moment is an exact integer (DECIMAL(38,0)
# squares); the final expressions divide identical doubles, 6dp.
# ---------------------------------------------------------------------------


@register(
    "f81_effect_sizes",
    oracle="""
WITH v AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
), s AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS scc
  FROM v GROUP BY grp
), w AS (
  SELECT MAX(CASE WHEN grp = 1 THEN n END) AS n1,
         MAX(CASE WHEN grp = 0 THEN n END) AS n0,
         MAX(CASE WHEN grp = 1 THEN sc END) AS sc1,
         MAX(CASE WHEN grp = 0 THEN sc END) AS sc0,
         MAX(CASE WHEN grp = 1 THEN scc END) AS scc1,
         MAX(CASE WHEN grp = 0 THEN scc END) AS scc0
  FROM s
), d AS (
  SELECT n1, n0,
         CAST(sc1 AS DOUBLE) / n1 - CAST(sc0 AS DOUBLE) / n0 AS mean_diff,
         sqrt(((CAST(scc1 AS DOUBLE) - CAST(sc1 AS DOUBLE) * sc1 / n1)
               + (CAST(scc0 AS DOUBLE) - CAST(sc0 AS DOUBLE) * sc0 / n0))
              / (n1 + n0 - 2)) AS s_pooled
  FROM w
)
SELECT n1 AS n_urgent, n0 AS n_other,
       ROUND(mean_diff / 100, 4) AS mean_diff_dollars,
       ROUND(s_pooled / 100, 4) AS pooled_sd_dollars,
       ROUND(mean_diff / s_pooled, 6) AS cohens_d,
       ROUND((mean_diff / s_pooled)
             * (1.0 - 3.0 / (4.0 * (n1 + n0 - 2) - 1)), 6) AS hedges_g
FROM d
""",
    doc="Standardized effect sizes between urgent and non-urgent order "
    "values: Cohen's d from exact cent moments (pooled SD, "
    "DECIMAL(38,0) squares) and Hedges' g via the rational small-"
    "sample correction 1 − 3/(4·df − 1) — the 'how big' companion to "
    "the f34/f45/f49/f67/f78 significance suite.",
)
def f81_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    s = v.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("scc"),
    )
    pick = lambda col, g: F.max(  # noqa: E731 - tiny local shorthand
        F.when(F.col("grp") == g, F.col(col))
    )
    w = s.agg(
        pick("n", 1).alias("n1"),
        pick("n", 0).alias("n0"),
        pick("sc", 1).alias("sc1"),
        pick("sc", 0).alias("sc0"),
        pick("scc", 1).alias("scc1"),
        pick("scc", 0).alias("scc0"),
    )
    mean_diff = F.col("sc1").cast("double") / F.col("n1") - F.col(
        "sc0"
    ).cast("double") / F.col("n0")
    ss1 = F.col("scc1").cast("double") - F.col("sc1").cast("double") * F.col(
        "sc1"
    ) / F.col("n1")
    ss0 = F.col("scc0").cast("double") - F.col("sc0").cast("double") * F.col(
        "sc0"
    ) / F.col("n0")
    s_pooled = F.sqrt((ss1 + ss0) / (F.col("n1") + F.col("n0") - 2))
    d = w.select(
        "n1",
        "n0",
        mean_diff.alias("mean_diff"),
        s_pooled.alias("s_pooled"),
    )
    return d.select(
        F.col("n1").alias("n_urgent"),
        F.col("n0").alias("n_other"),
        F.round(F.col("mean_diff") / 100, 4).alias("mean_diff_dollars"),
        F.round(F.col("s_pooled") / 100, 4).alias("pooled_sd_dollars"),
        F.round(F.col("mean_diff") / F.col("s_pooled"), 6).alias(
            "cohens_d"
        ),
        F.round(
            (F.col("mean_diff") / F.col("s_pooled"))
            * (
                F.lit(1.0)
                - F.lit(3.0)
                / (F.lit(4.0) * (F.col("n1") + F.col("n0") - 2) - 1)
            ),
            6,
        ).alias("hedges_g"),
    )


# ---------------------------------------------------------------------------
# F82 — Welch's t (unequal variances) with Welch-Satterthwaite df
#
# f81 sizes the effect; the significance test practitioners actually
# default to is WELCH's t — no equal-variance assumption, so it stays
# valid when the urgent segment is noisier than the rest. t =
# (x̄₁−x̄₂)/√(s₁²/n₁ + s₂²/n₂) and the Welch-Satterthwaite degrees of
# freedom ν = (v₁+v₂)²/(v₁²/(n₁−1) + v₂²/(n₂−1)) with vᵢ = sᵢ²/nᵢ —
# all from the SAME exact cent moments as f81 (one pass, DECIMAL(38,0)
# squares), evaluated as shared double expressions, 6dp.
# ---------------------------------------------------------------------------


@register(
    "f82_welch_t",
    oracle="""
WITH v AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS grp,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
), s AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS sc,
         CAST(SUM(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS scc
  FROM v GROUP BY grp
), w AS (
  SELECT MAX(CASE WHEN grp = 1 THEN n END) AS n1,
         MAX(CASE WHEN grp = 0 THEN n END) AS n0,
         MAX(CASE WHEN grp = 1 THEN sc END) AS sc1,
         MAX(CASE WHEN grp = 0 THEN sc END) AS sc0,
         MAX(CASE WHEN grp = 1 THEN scc END) AS scc1,
         MAX(CASE WHEN grp = 0 THEN scc END) AS scc0
  FROM s
), parts AS (
  SELECT n1, n0,
         CAST(sc1 AS DOUBLE) / n1 - CAST(sc0 AS DOUBLE) / n0 AS mean_diff,
         ((CAST(scc1 AS DOUBLE) - CAST(sc1 AS DOUBLE) * sc1 / n1)
          / (n1 - 1)) / n1 AS v1,
         ((CAST(scc0 AS DOUBLE) - CAST(sc0 AS DOUBLE) * sc0 / n0)
          / (n0 - 1)) / n0 AS v0
  FROM w
)
SELECT n1 AS n_urgent, n0 AS n_other,
       ROUND(mean_diff / sqrt(v1 + v0), 6) AS welch_t,
       ROUND((v1 + v0) * (v1 + v0)
             / (v1 * v1 / (n1 - 1) + v0 * v0 / (n0 - 1)), 4) AS df_ws
FROM parts
""",
    doc="Welch's unequal-variance t between urgent and non-urgent order "
    "values with the Welch-Satterthwaite df — the default two-sample "
    "test, from the same one-pass exact cent moments as f81; shared "
    "double expressions, 6dp.",
)
def f82_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    v = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    s = v.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("decimal(38,0)")
        .alias("scc"),
    )
    pick = lambda col, g: F.max(  # noqa: E731 - tiny local shorthand
        F.when(F.col("grp") == g, F.col(col))
    )
    w = s.agg(
        pick("n", 1).alias("n1"),
        pick("n", 0).alias("n0"),
        pick("sc", 1).alias("sc1"),
        pick("sc", 0).alias("sc0"),
        pick("scc", 1).alias("scc1"),
        pick("scc", 0).alias("scc0"),
    )
    mean_diff = F.col("sc1").cast("double") / F.col("n1") - F.col(
        "sc0"
    ).cast("double") / F.col("n0")
    v1 = (
        (
            F.col("scc1").cast("double")
            - F.col("sc1").cast("double") * F.col("sc1") / F.col("n1")
        )
        / (F.col("n1") - 1)
    ) / F.col("n1")
    v0 = (
        (
            F.col("scc0").cast("double")
            - F.col("sc0").cast("double") * F.col("sc0") / F.col("n0")
        )
        / (F.col("n0") - 1)
    ) / F.col("n0")
    parts = w.select(
        "n1",
        "n0",
        mean_diff.alias("mean_diff"),
        v1.alias("v1"),
        v0.alias("v0"),
    )
    return parts.select(
        F.col("n1").alias("n_urgent"),
        F.col("n0").alias("n_other"),
        F.round(
            F.col("mean_diff") / F.sqrt(F.col("v1") + F.col("v0")), 6
        ).alias("welch_t"),
        F.round(
            (F.col("v1") + F.col("v0")) * (F.col("v1") + F.col("v0"))
            / (
                F.col("v1") * F.col("v1") / (F.col("n1") - 1)
                + F.col("v0") * F.col("v0") / (F.col("n0") - 1)
            ),
            4,
        ).alias("df_ws"),
    )


# ---------------------------------------------------------------------------
# M18 — double-fire event audit (client retry / dedup-miss detector)
#
# The classic instrumentation bug: a client retry or a missing
# idempotency key fires the same event twice. Suspected double-fires
# are consecutive events of the SAME user, type, and value cents
# within one second — found with one user/type-partitioned lag window
# over exact epoch-µs (no self-join), reported per type with the
# suspect share. Zero on a clean feed — the m13/m16/m17 proving-audit
# family; the same query catches a real client bug at any scale.
# ---------------------------------------------------------------------------

_M18_WINDOW_US = 1_000_000  # 1 second


@register(
    "m18_double_fire_audit",
    oracle=f"""
WITH seq AS (
  SELECT event_type,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
         CAST(round(value * 100) AS BIGINT)
           - LAG(CAST(round(value * 100) AS BIGINT)) OVER w AS dv
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(CASE WHEN gap_us < {_M18_WINDOW_US} AND dv = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect,
       ROUND(CAST(SUM(CASE WHEN gap_us < {_M18_WINDOW_US} AND dv = 0
                      THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS suspect_share
FROM seq
WHERE gap_us IS NOT NULL
GROUP BY event_type
ORDER BY event_type
""",
    doc="Double-fire audit: consecutive same-user same-type events with "
    "identical value cents inside one second, from one user/type-"
    "partitioned lag window over exact epoch-µs — the retry/idempotency "
    "bug detector; zero on a clean feed (the proving-audit family).",
)
def m18_double_fire_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        epoch_us("ts"), F.col("event_id")
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    seq = e.select(
        "event_type",
        (epoch_us("ts") - F.lag(epoch_us("ts")).over(w)).alias("gap_us"),
        (cents - F.lag(cents).over(w)).alias("dv"),
    ).filter(F.col("gap_us").isNotNull())
    suspect = F.sum(
        F.when(
            (F.col("gap_us") < _M18_WINDOW_US) & (F.col("dv") == 0), 1
        ).otherwise(0)
    )
    return (
        seq.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_gaps"),
            suspect.cast("bigint").alias("n_suspect"),
            F.round(
                suspect.cast("double") / F.count("*"), 6
            ).alias("suspect_share"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# G30 — circular time-of-day statistics (mean hour, concentration)
#
# "When during the day does each event type happen?" — arithmetic
# means break on a circle (23:00 and 01:00 average to noon); the
# right tool is circular statistics: θ = 2π·(µs into the day)/86400e6,
# mean direction from (Σcos θ, Σsin θ), concentration R̄ = |Σe^{iθ}|/n
# (1 = perfectly peaked, 0 = uniform). Per-row cos/sin are libm, so
# each QUANTIZES to an exact micro integer before the sums (the x81
# contract — a 1-ulp libm disagreement is 10 orders below the
# quantum), sums are exact BIGINTs, and the mean hour comes from one
# atan2 over identical integer-derived doubles, folded to [0, 24).
# ---------------------------------------------------------------------------


@register(
    "g30_circular_time_stats",
    oracle="""
WITH theta AS (
  SELECT event_type,
         2 * pi() * (epoch_us(ts) % 86400000000) / 86400000000.0 AS th
  FROM events
), q AS (
  SELECT event_type,
         CAST(round(cos(th) * 1000000) AS BIGINT) AS c_micro,
         CAST(round(sin(th) * 1000000) AS BIGINT) AS s_micro
  FROM theta
), s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c_micro) AS BIGINT) AS sc,
         CAST(SUM(s_micro) AS BIGINT) AS ss
  FROM q GROUP BY event_type
)
SELECT event_type, n AS n_events,
       ROUND(sqrt(CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss)
             / (1000000.0 * n), 6) AS resultant_r,
       ROUND(((atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))
               / (2 * pi()) * 24) + 24) % 24, 4) AS mean_hour
FROM s
ORDER BY event_type
""",
    doc="Circular time-of-day statistics per event type: per-row cos/sin "
    "micro-quantized before exact BIGINT sums (libm ulp-safe), "
    "concentration R̄ = |Σe^iθ|/n and the circular mean hour from one "
    "atan2 over identical operands — 23:00 and 01:00 average to "
    "midnight, not noon; R̄ ≈ 0 flags a uniform (clockless) stream.",
)
def g30_circular_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as m

    e = table(spark, sf_dir, "events")
    th = (
        F.lit(2 * m.pi)
        * (epoch_us("ts") % 86400000000).cast("double")
        / F.lit(86400000000.0)
    )
    q = e.select(
        "event_type",
        F.round(F.cos(th) * 1e6).cast("bigint").alias("c_micro"),
        F.round(F.sin(th) * 1e6).cast("bigint").alias("s_micro"),
    )
    s = q.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c_micro").cast("bigint").alias("sc"),
        F.sum("s_micro").cast("bigint").alias("ss"),
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_events"),
        F.round(
            F.sqrt(
                F.col("sc").cast("double") * F.col("sc")
                + F.col("ss").cast("double") * F.col("ss")
            )
            / (F.lit(1000000.0) * F.col("n")),
            6,
        ).alias("resultant_r"),
        F.round(
            F.pmod(
                F.atan2(
                    F.col("ss").cast("double"), F.col("sc").cast("double")
                )
                / F.lit(2 * m.pi)
                * 24
                + 24,
                F.lit(24.0),
            ),
            4,
        ).alias("mean_hour"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# F83 — sign test (distribution-free paired direction)
#
# The bluntest, most assumption-free paired test: count customers who
# spent MORE in 1996 than 1995 vs fewer (ties drop), and compare to a
# fair coin — z = (n⁺ − n⁻)/√(n⁺ + n⁻). Where f78's signed-rank uses
# magnitudes, the sign test survives ANY monotone transform of spend;
# disagreement between the two flags magnitude-driven effects. Counts
# are exact BIGINTs from the shared f73/f78 per-customer cents shape;
# z divides identical integer-derived doubles.
# ---------------------------------------------------------------------------


@register(
    "f83_sign_test",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey,
         CAST(COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '1995-01-01'
                                 AND o.o_orderdate < DATE '1996-01-01'
                            THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                            END), 0) AS BIGINT) AS x,
         CAST(COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '1996-01-01'
                                 AND o.o_orderdate < DATE '1997-01-01'
                            THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                            END), 0) AS BIGINT) AS y
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
), s AS (
  SELECT CAST(SUM(CASE WHEN y > x THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN y < x THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         CAST(SUM(CASE WHEN y = x THEN 1 ELSE 0 END) AS BIGINT) AS n_tie
  FROM per_cust
)
SELECT n_pos, n_neg, n_tie,
       ROUND(CAST(n_pos - n_neg AS DOUBLE) / sqrt(n_pos + n_neg), 6)
         AS z_stat
FROM s
""",
    doc="Sign test on paired customer spend (1996 vs 1995): up/down/tie "
    "counts from the shared per-customer cents shape, z = "
    "(n⁺−n⁻)/√(n⁺+n⁻) — assumption-free direction, surviving any "
    "monotone transform; disagreement with f78's signed-rank flags "
    "magnitude-driven effects.",
)
def f83_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    in_year = lambda y: (  # noqa: E731 - tiny local shorthand
        (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("date"))
    )
    per_cust = (
        c.select("c_custkey")
        .join(o, o.o_custkey == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(F.sum(F.when(in_year(1995), cents)), F.lit(0))
            .cast("bigint")
            .alias("x"),
            F.coalesce(F.sum(F.when(in_year(1996), cents)), F.lit(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    s = per_cust.agg(
        F.sum(F.when(F.col("y") > F.col("x"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("y") < F.col("x"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
        F.sum(F.when(F.col("y") == F.col("x"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_tie"),
    )
    return s.select(
        "n_pos",
        "n_neg",
        "n_tie",
        F.round(
            (F.col("n_pos") - F.col("n_neg")).cast("double")
            / F.sqrt(F.col("n_pos") + F.col("n_neg")),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# G31 — weekend lift (day-type revenue ratio)
#
# The business twin of f75's uniformity test: HOW MUCH does weekend
# daily revenue differ from weekday? Mean daily revenue per day type
# (exact dollar sums over the f48 day grain, counts of calendar days
# with any order), the lift ratio weekend/weekday, and the per-order
# value split — ratios of exact integer-derived doubles, 6dp; one
# bounded day-grain aggregate feeding a 2-row rollup.
# ---------------------------------------------------------------------------


@register(
    "g31_weekend_lift",
    oracle="""
WITH daily AS (
  SELECT o_orderdate AS day,
         CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 ELSE 0 END
           AS is_weekend,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1, 2
), s AS (
  SELECT CAST(SUM(CASE WHEN is_weekend = 1 THEN y END) AS BIGINT) AS rev_we,
         CAST(SUM(CASE WHEN is_weekend = 0 THEN y END) AS BIGINT) AS rev_wd,
         CAST(COUNT(CASE WHEN is_weekend = 1 THEN 1 END) AS BIGINT) AS d_we,
         CAST(COUNT(CASE WHEN is_weekend = 0 THEN 1 END) AS BIGINT) AS d_wd,
         CAST(SUM(CASE WHEN is_weekend = 1 THEN n_orders END) AS BIGINT)
           AS o_we,
         CAST(SUM(CASE WHEN is_weekend = 0 THEN n_orders END) AS BIGINT)
           AS o_wd
  FROM daily
)
SELECT d_we AS weekend_days, d_wd AS weekday_days,
       o_we AS weekend_orders, o_wd AS weekday_orders,
       ROUND(CAST(rev_we AS DOUBLE) / d_we, 4) AS weekend_daily_rev,
       ROUND(CAST(rev_wd AS DOUBLE) / d_wd, 4) AS weekday_daily_rev,
       ROUND((CAST(rev_we AS DOUBLE) / d_we)
             / (CAST(rev_wd AS DOUBLE) / d_wd), 6) AS lift
FROM s
""",
    doc="Weekend revenue lift: mean daily revenue on weekend vs weekday "
    "calendar days (exact dollar day grain; output is label-free so "
    "the Sunday=0/1 dialect difference cannot leak — weekend is the "
    "{Sat, Sun} SET on both engines), with order counts and the lift "
    "ratio — the effect-size twin of f75's uniformity chi-square.",
)
def g31_weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # Spark dayofweek: Sunday=1, Saturday=7; DuckDB: Sunday=0, Saturday=6.
    # Both predicates select the same {Saturday, Sunday} day set.
    daily = o.groupBy(
        F.col("o_orderdate").alias("day"),
        F.when(F.dayofweek("o_orderdate").isin(1, 7), 1)
        .otherwise(0)
        .alias("is_weekend"),
    ).agg(
        F.round(
            F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0
        )
        .cast("bigint")
        .alias("y"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    s = daily.agg(
        F.sum(F.when(F.col("is_weekend") == 1, F.col("y")))
        .cast("bigint")
        .alias("rev_we"),
        F.sum(F.when(F.col("is_weekend") == 0, F.col("y")))
        .cast("bigint")
        .alias("rev_wd"),
        F.count(F.when(F.col("is_weekend") == 1, 1))
        .cast("bigint")
        .alias("d_we"),
        F.count(F.when(F.col("is_weekend") == 0, 1))
        .cast("bigint")
        .alias("d_wd"),
        F.sum(F.when(F.col("is_weekend") == 1, F.col("n_orders")))
        .cast("bigint")
        .alias("o_we"),
        F.sum(F.when(F.col("is_weekend") == 0, F.col("n_orders")))
        .cast("bigint")
        .alias("o_wd"),
    )
    we = F.col("rev_we").cast("double") / F.col("d_we")
    wd = F.col("rev_wd").cast("double") / F.col("d_wd")
    return s.select(
        F.col("d_we").alias("weekend_days"),
        F.col("d_wd").alias("weekday_days"),
        F.col("o_we").alias("weekend_orders"),
        F.col("o_wd").alias("weekday_orders"),
        F.round(we, 4).alias("weekend_daily_rev"),
        F.round(wd, 4).alias("weekday_daily_rev"),
        F.round(we / wd, 6).alias("lift"),
    )


# ---------------------------------------------------------------------------
# F84 — income-inequality indices (Gini / Theil / Atkinson / Hoover)
#
# The concentration view f29's Pareto shares only sketch: four standard
# inequality measures over per-customer revenue in one pass. Gini uses
# the rank formula G = 2·Σr·x/(n·Σx) − (n+1)/n over a DISTRIBUTED total
# order (prefix_rank two-phase rank — no single-partition window), so
# the plan survives 10⁸⁺ customers. Rank products are exact DECIMAL;
# the ln-based terms (Theil, Atkinson) are O(1) ratios x/μ quantized
# per-term at 8–10dp before the order-independent decimal sum, keeping
# libm last-ulp noise far below the rounding grain. Engine extension —
# no reference counterpart (closest surface: spend rollups,
# /root/reference/core/app.py:2510-2560).
# ---------------------------------------------------------------------------


@register(
    "f84_inequality_indices",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                   AS DECIMAL(38,2)) * 100 AS BIGINT) AS x
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT x, o_custkey,
         CAST(ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS BIGINT) AS r
  FROM per_cust
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx
  FROM per_cust
), s AS (
  SELECT
    CAST(SUM(CAST(r AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0)))
         AS DOUBLE) AS srx,
    CAST(SUM(CAST(ROUND((x / mu) * LN(x / mu), 8) AS DECIMAL(38,8)))
         AS DOUBLE) AS st,
    CAST(SUM(CAST(ROUND(LN(x / mu), 10) AS DECIMAL(38,10)))
         AS DOUBLE) AS sl,
    CAST(SUM(CAST(ROUND(ABS(x - mu), 6) AS DECIMAL(38,6)))
         AS DOUBLE) AS sa
  FROM ranked CROSS JOIN (SELECT CAST(sx AS DOUBLE) / n AS mu FROM tot) m
)
SELECT n AS n_cust,
       ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_cents,
       ROUND(2.0 * srx / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini,
       ROUND(st / CAST(n AS DOUBLE), 6) AS theil_t,
       ROUND(1.0 - EXP(sl / CAST(n AS DOUBLE)), 6) AS atkinson,
       ROUND(sa / (2.0 * CAST(sx AS DOUBLE)), 6) AS hoover
FROM s CROSS JOIN tot
""",
    doc="Gini (distributed rank formula), Theil T, Atkinson(ε=1) and "
    "Hoover index over per-customer revenue cents: exact decimal rank "
    "products, O(1)-ratio log terms quantized before the decimal sum.",
)
def f84_inequality_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        (F.sum(X.dec("o_totalprice")).cast("decimal(38,2)") * 100)
        .cast("bigint")
        .alias("x")
    )
    ranked = prefix_rank(
        per_cust,
        [F.asc("x"), F.asc("o_custkey")],
        "x",
        rn_col="r",
        total_sum_col="sx",
        total_rows_col="n",
        pin_input=True,  # orders scan+agg would run 2x in the sampling pass
    )
    base = ranked.withColumn("mu", F.col("sx").cast("double") / F.col("n"))
    ratio = F.col("x") / F.col("mu")
    s = base.agg(
        F.max("n").alias("n_cust"),
        F.max("sx").alias("sx"),
        F.sum(F.col("r").cast("decimal(18,0)") * F.col("x").cast("decimal(18,0)"))
        .cast("double")
        .alias("srx"),
        F.sum(F.round(ratio * F.log(ratio), 8).cast("decimal(38,8)"))
        .cast("double")
        .alias("st"),
        F.sum(F.round(F.log(ratio), 10).cast("decimal(38,10)"))
        .cast("double")
        .alias("sl"),
        F.sum(
            F.round(F.abs(F.col("x") - F.col("mu")), 6).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sa"),
    )
    nd = F.col("n_cust").cast("double")
    sxd = F.col("sx").cast("double")
    return s.select(
        F.col("n_cust"),
        F.round(sxd / F.col("n_cust"), 6).alias("mean_cents"),
        F.round(
            F.lit(2.0) * F.col("srx") / (nd * sxd) - (nd + F.lit(1.0)) / nd, 6
        ).alias("gini"),
        F.round(F.col("st") / nd, 6).alias("theil_t"),
        F.round(F.lit(1.0) - F.exp(F.col("sl") / nd), 6).alias("atkinson"),
        F.round(F.col("sa") / (F.lit(2.0) * sxd), 6).alias("hoover"),
    )


# ---------------------------------------------------------------------------
# F85 — Ljung–Box portmanteau test on daily revenue
#
# f48 reports per-lag autocorrelation; this is the hypothesis test on
# top: Q_m = n(n+2)·Σ_{k≤m} ρ_k²/(n−k) with ρ_k = c_k/c_0 computed
# around the FIXED series mean (textbook form), over the observed-day
# series joined at calendar lag k (f48/f51 day-grain contract, pair
# counts disclosed per lag). Deviations are exact-integer-minus-
# identical-double — no libm anywhere — so per-term 6dp quantization
# before the decimal sum gives bit-identical statistics. Engine
# extension (reference has no time-series tests).
# ---------------------------------------------------------------------------

_F85_LAGS = 7


@register(
    "f85_ljung_box",
    oracle=f"""
WITH daily AS (
  SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y
  FROM orders GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS sy
  FROM daily
), base AS (
  SELECT d, y, n, CAST(sy AS DOUBLE) / n AS mu FROM daily CROSS JOIN tot
), c0t AS (
  SELECT CAST(SUM(CAST(ROUND((y - mu) * (y - mu), 6) AS DECIMAL(38,6)))
              AS DOUBLE) AS c0,
         MAX(n) AS n
  FROM base
), lagged AS (
  SELECT l.lag, a.y - a.mu AS dx, b.y - b.mu AS dy
  FROM (SELECT unnest(range(1, {_F85_LAGS} + 1)) AS lag) l
  JOIN base a ON TRUE
  JOIN base b ON b.d = a.d - l.lag
), ck AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CAST(ROUND(dx * dy, 6) AS DECIMAL(38,6))) AS DOUBLE) AS ck
  FROM lagged GROUP BY lag
)
SELECT lag, n_pairs, ROUND(ck / c0, 6) AS rho,
       ROUND((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)) *
             CAST(SUM(CAST(ROUND((ck / c0) * (ck / c0)
                                 / (CAST(n AS DOUBLE) - lag), 12)
                           AS DECIMAL(38,12)))
                  OVER (ORDER BY lag ROWS UNBOUNDED PRECEDING)
                  AS DOUBLE), 6) AS q_stat
FROM ck CROSS JOIN c0t
ORDER BY lag
""",
    doc="Ljung–Box Q at lags 1–7 on the integer-dollar daily series: "
    "fixed-mean autocovariances with 6dp per-term quantization, "
    "cumulative Q over the 7-row lag relation.",
)
def f85_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d")
    ).agg(
        F.round(F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0)
        .cast("bigint")
        .alias("y")
    )
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
    )
    base = daily.crossJoin(F.broadcast(tot)).select(
        "d", "y", "n", (F.col("sy").cast("double") / F.col("n")).alias("mu")
    )
    dev = F.col("y") - F.col("mu")
    c0t = base.agg(
        F.sum(F.round(dev * dev, 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("c0"),
        F.max("n").alias("n"),
    )
    lags = spark.range(1, _F85_LAGS + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = base.crossJoin(F.broadcast(lags)).select(
        "lag", (F.col("d") - F.col("lag")).alias("d_prev"), dev.alias("dx")
    )
    b = base.select(F.col("d").alias("d_prev"), dev.alias("dy"))
    ck = (
        a.join(b, "d_prev")
        .groupBy("lag")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.round(F.col("dx") * F.col("dy"), 6).cast("decimal(38,6)"))
            .cast("double")
            .alias("ck"),
        )
    )
    nd = F.col("n").cast("double")
    rho = F.col("ck") / F.col("c0")
    w = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ck.crossJoin(F.broadcast(c0t))
        .select(
            "lag",
            "n_pairs",
            F.round(rho, 6).alias("rho"),
            F.round(
                (nd * (nd + F.lit(2.0)))
                * F.sum(
                    F.round(rho * rho / (nd - F.col("lag")), 12).cast(
                        "decimal(38,12)"
                    )
                )
                .over(w)
                .cast("double"),
                6,
            ).alias("q_stat"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# F86 — Jarque–Bera normality screen per market segment
#
# Distribution-shape audit the drift monitors (f30/f65) assume away:
# skewness, excess kurtosis, and the JB statistic of order values per
# customer segment, from four raw power sums over exact integer
# dollars. Moments up to x⁴ stay in DECIMAL(38,0) (dollar grain keeps
# Σx⁴ < 10³⁸ far past 100 TB row counts); every downstream step is
# identical IEEE double algebra — sqrt only, no pow/libm. One broadcast
# dim join + one 5-group hash aggregate. Engine extension.
# ---------------------------------------------------------------------------


@register(
    "f86_jarque_bera",
    oracle="""
WITH base AS (
  SELECT c.c_mktsegment AS mktsegment,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 0) AS BIGINT) AS x
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), s AS (
  SELECT mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(18,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(x * x AS DECIMAL(18,0))) AS DOUBLE) AS s2,
         CAST(SUM(CAST(x * x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
              AS DOUBLE) AS s3,
         CAST(SUM(CAST(x * x AS DECIMAL(19,0)) * CAST(x * x AS DECIMAL(19,0)))
              AS DOUBLE) AS s4
  FROM base GROUP BY mktsegment
), m AS (
  SELECT mktsegment, n,
         s1 / n AS m1, s2 / n AS r2, s3 / n AS r3, s4 / n AS r4
  FROM s
), c AS (
  SELECT mktsegment, n, m1,
         r2 - m1 * m1 AS m2,
         r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
         r4 - 4.0 * m1 * r3 + 6.0 * (m1 * m1) * r2
            - 3.0 * (m1 * m1) * (m1 * m1) AS m4
  FROM m
), g AS (
  SELECT mktsegment, n, m1,
         m3 / (m2 * SQRT(m2)) AS skew,
         m4 / (m2 * m2) - 3.0 AS kurt
  FROM c
)
SELECT mktsegment, n AS n_orders,
       ROUND(m1, 6) AS mean_dollars,
       ROUND(skew, 6) AS skewness,
       ROUND(kurt, 6) AS kurtosis_excess,
       ROUND((CAST(n AS DOUBLE) / 6.0)
             * (skew * skew + (kurt * kurt) / 4.0), 6) AS jb_stat
FROM g ORDER BY mktsegment
""",
    doc="Per-segment skewness / excess kurtosis / Jarque–Bera from "
    "exact DECIMAL power sums of integer order dollars; sqrt-only "
    "double algebra, identical association on both engines.",
)
def f86_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("mktsegment"),
        F.round(X.dec("o_totalprice"), 0).cast("bigint").alias("x"),
    )
    xx = F.col("x") * F.col("x")
    s = base.groupBy("mktsegment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(18,0)")).cast("double").alias("s1"),
        F.sum(xx.cast("decimal(18,0)")).cast("double").alias("s2"),
        F.sum(xx.cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .cast("double")
        .alias("s3"),
        F.sum(xx.cast("decimal(19,0)") * xx.cast("decimal(19,0)"))
        .cast("double")
        .alias("s4"),
    )
    nd = F.col("n").cast("double")
    m = s.select(
        "mktsegment",
        "n",
        (F.col("s1") / F.col("n")).alias("m1"),
        (F.col("s2") / F.col("n")).alias("r2"),
        (F.col("s3") / F.col("n")).alias("r3"),
        (F.col("s4") / F.col("n")).alias("r4"),
    )
    m1 = F.col("m1")
    cdf = m.select(
        "mktsegment",
        "n",
        "m1",
        (F.col("r2") - m1 * m1).alias("m2"),
        (
            F.col("r3") - F.lit(3.0) * m1 * F.col("r2")
            + F.lit(2.0) * m1 * m1 * m1
        ).alias("m3"),
        (
            F.col("r4") - F.lit(4.0) * m1 * F.col("r3")
            + F.lit(6.0) * (m1 * m1) * F.col("r2")
            - F.lit(3.0) * (m1 * m1) * (m1 * m1)
        ).alias("m4"),
    )
    g = cdf.select(
        "mktsegment",
        "n",
        "m1",
        (F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))).alias("skew"),
        (F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0)).alias("kurt"),
    )
    return g.select(
        "mktsegment",
        F.col("n").alias("n_orders"),
        F.round(F.col("m1"), 6).alias("mean_dollars"),
        F.round(F.col("skew"), 6).alias("skewness"),
        F.round(F.col("kurt"), 6).alias("kurtosis_excess"),
        F.round(
            (nd / F.lit(6.0))
            * (
                F.col("skew") * F.col("skew")
                + (F.col("kurt") * F.col("kurt")) / F.lit(4.0)
            ),
            6,
        ).alias("jb_stat"),
    ).orderBy("mktsegment")


# ---------------------------------------------------------------------------
# F87 — Cramér's V + likelihood-ratio G-test (segment × priority)
#
# f34's chi-square names the statistic; this adds the effect size and
# the likelihood-ratio twin over the FULL r×c grid (zero cells enter
# with their expected mass, as the textbook demands — f34 works on the
# observed grid). Expected counts divide exact integers; per-cell terms
# are 12dp-quantized before the order-independent decimal sum; the only
# libm call is LN on an O(1) observed/expected ratio. Two grid-sized
# aggregates over one fact⋈broadcast-dim join. Engine extension.
# ---------------------------------------------------------------------------


@register(
    "f87_cramers_v_gtest",
    oracle="""
WITH base AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), obs AS (
  SELECT seg, pri, CAST(COUNT(*) AS BIGINT) AS o FROM base GROUP BY seg, pri
), rt AS (
  SELECT seg, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY seg
), ct AS (
  SELECT pri, CAST(SUM(o) AS BIGINT) AS s FROM obs GROUP BY pri
), tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT seg) AS BIGINT) AS kr,
         CAST(COUNT(DISTINCT pri) AS BIGINT) AS kc
  FROM obs
), grid AS (
  SELECT rt.seg, ct.pri, rt.r, ct.s, COALESCE(obs.o, 0) AS o
  FROM rt CROSS JOIN ct
  LEFT JOIN obs ON obs.seg = rt.seg AND obs.pri = ct.pri
), terms AS (
  SELECT CAST(r AS DOUBLE) * s / n AS e, o
  FROM grid CROSS JOIN tot
), agg AS (
  SELECT
    CAST(SUM(CAST(ROUND((o - e) * (o - e) / e, 12) AS DECIMAL(38,12)))
         AS DOUBLE) AS chi2,
    CAST(SUM(CASE WHEN o > 0
                  THEN CAST(ROUND(o * LN(o / e), 12) AS DECIMAL(38,12))
                  ELSE CAST(0 AS DECIMAL(38,12)) END)
         AS DOUBLE) AS glog
  FROM terms
)
SELECT n, kr AS n_segments, kc AS n_priorities,
       (kr - 1) * (kc - 1) AS dof,
       ROUND(chi2, 6) AS chi2,
       ROUND(SQRT(chi2 / (CAST(n AS DOUBLE)
                          * (LEAST(kr, kc) - 1))), 6) AS cramers_v,
       ROUND(2.0 * glog, 6) AS g_stat
FROM agg CROSS JOIN tot
""",
    doc="Full-grid chi-square with Cramér's V effect size and the "
    "likelihood-ratio G-test over mktsegment × orderpriority; exact "
    "integer marginals, 12dp per-cell quantization.",
)
def f87_cramers_v_gtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    base = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
    )
    obs = base.groupBy("seg", "pri").agg(F.count("*").cast("bigint").alias("o"))
    rt = obs.groupBy("seg").agg(F.sum("o").cast("bigint").alias("r"))
    ct = obs.groupBy("pri").agg(F.sum("o").cast("bigint").alias("s"))
    tot = obs.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("seg").cast("bigint").alias("kr"),
        F.countDistinct("pri").cast("bigint").alias("kc"),
    )
    grid = (
        rt.crossJoin(ct)
        .join(obs, ["seg", "pri"], "left")
        .select("r", "s", F.coalesce(F.col("o"), F.lit(0)).alias("o"))
    )
    terms = grid.crossJoin(F.broadcast(tot)).select(
        (F.col("r").cast("double") * F.col("s") / F.col("n")).alias("e"),
        "o",
    )
    zero = F.lit(0).cast("decimal(38,12)")
    agg = terms.agg(
        F.sum(
            F.round(
                (F.col("o") - F.col("e")) * (F.col("o") - F.col("e"))
                / F.col("e"),
                12,
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("chi2"),
        F.sum(
            F.when(
                F.col("o") > 0,
                F.round(
                    F.col("o") * F.log(F.col("o") / F.col("e")), 12
                ).cast("decimal(38,12)"),
            ).otherwise(zero)
        )
        .cast("double")
        .alias("glog"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "n",
        F.col("kr").alias("n_segments"),
        F.col("kc").alias("n_priorities"),
        ((F.col("kr") - 1) * (F.col("kc") - 1)).alias("dof"),
        F.round(F.col("chi2"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n").cast("double") * (F.least("kr", "kc") - 1))
            ),
            6,
        ).alias("cramers_v"),
        F.round(F.lit(2.0) * F.col("glog"), 6).alias("g_stat"),
    )


# ---------------------------------------------------------------------------
# F88 — deterministic permutation test (urgent vs standard order value)
#
# The nonparametric A/B readout f72 can't give: a null distribution for
# the mean-difference statistic, built from R=128 label reshuffles that
# are DETERMINISTIC (md5-salted per rep×order, the x30/x88 sampling
# idiom — never rand()), so Spark and DuckDB draw byte-identical
# permutations. Labels are reassigned binomially at the observed group
# share (basis-point threshold from exact integer ops) — the
# exchangeable-under-H0 variant that needs no global shuffle of actual
# labels. The R-fold explode is map-side only: partial aggregation
# collapses it to R rows before any exchange, so the plan's shuffle
# mass is R×partitions rows at any data scale. Engine extension.
# ---------------------------------------------------------------------------

_F88_REPS = 128


@register(
    "f88_permutation_test",
    oracle=f"""
WITH base AS (
  SELECT o_orderkey,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS a,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM orders
), obs AS (
  SELECT CAST(SUM(a) AS BIGINT) AS na,
         CAST(COUNT(*) - SUM(a) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN a = 1 THEN cents ELSE 0 END) AS BIGINT) AS sa,
         CAST(SUM(CASE WHEN a = 0 THEN cents ELSE 0 END) AS BIGINT) AS sb
  FROM base
), par AS (
  SELECT na, nb, sa, sb,
         CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb AS diff_obs,
         CAST(FLOOR(10000.0 * na / (na + nb)) AS BIGINT) AS thr
  FROM obs
), draws AS (
  SELECT r.rep,
         CASE WHEN list_reduce(list_transform(
                string_split_regex(substr(md5(
                  'perm:' || CAST(r.rep AS VARCHAR) || ':'
                          || CAST(b.o_orderkey AS VARCHAR)), 1, 15), ''),
                x -> strpos('0123456789abcdef', x) - 1),
                (a, b) -> a * 16 + b) % 10000 < p.thr
              THEN 1 ELSE 0 END AS ar,
         b.cents
  FROM base b
  CROSS JOIN (SELECT unnest(range(1, {_F88_REPS} + 1)) AS rep) r
  CROSS JOIN par p
), per_rep AS (
  SELECT rep,
         CAST(SUM(ar) AS BIGINT) AS nar,
         CAST(COUNT(*) - SUM(ar) AS BIGINT) AS nbr,
         CAST(SUM(CASE WHEN ar = 1 THEN cents ELSE 0 END) AS BIGINT) AS sar,
         CAST(SUM(CASE WHEN ar = 0 THEN cents ELSE 0 END) AS BIGINT) AS sbr
  FROM draws GROUP BY rep
), verdicts AS (
  SELECT CAST(SUM(CASE WHEN ABS(CAST(sar AS DOUBLE) / nar
                                - CAST(sbr AS DOUBLE) / nbr)
                            >= ABS(p.diff_obs)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
  FROM per_rep CROSS JOIN par p
)
SELECT na + nb AS n_orders, na AS n_urgent, thr AS thr_bp,
       ROUND(diff_obs, 6) AS diff_obs_cents,
       {_F88_REPS} AS n_reps, n_extreme,
       ROUND((1.0 + n_extreme) / ({_F88_REPS} + 1.0), 6) AS p_value
FROM par CROSS JOIN verdicts
""",
    doc="Hash-seeded permutation test of mean order value, urgent vs "
    "standard priority: 128 deterministic md5 label reshuffles at the "
    "observed group share, add-one p-value; reproducible byte-for-byte "
    "in any engine with md5.",
)
def f88_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.functions.hashing import md5_long

    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("a"),
        (X.dec("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    obs = base.agg(
        F.sum("a").cast("bigint").alias("na"),
        (F.count("*") - F.sum("a")).cast("bigint").alias("nb"),
        F.sum(F.when(F.col("a") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("a") == 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
    )
    par = obs.select(
        "na",
        "nb",
        "sa",
        "sb",
        (
            F.col("sa").cast("double") / F.col("na")
            - F.col("sb").cast("double") / F.col("nb")
        ).alias("diff_obs"),
        F.floor(
            F.lit(10000.0) * F.col("na") / (F.col("na") + F.col("nb"))
        )
        .cast("bigint")
        .alias("thr"),
    )
    reps = spark.range(1, _F88_REPS + 1).select(F.col("id").alias("rep"))
    draws = (
        base.crossJoin(F.broadcast(reps))
        .crossJoin(F.broadcast(par))
        .select(
            "rep",
            F.when(
                md5_long(
                    F.concat(
                        F.lit("perm:"),
                        F.col("rep").cast("string"),
                        F.lit(":"),
                        F.col("o_orderkey").cast("string"),
                    )
                )
                % 10000
                < F.col("thr"),
                1,
            )
            .otherwise(0)
            .alias("ar"),
            "cents",
        )
    )
    per_rep = draws.groupBy("rep").agg(
        F.sum("ar").cast("bigint").alias("nar"),
        (F.count("*") - F.sum("ar")).cast("bigint").alias("nbr"),
        F.sum(F.when(F.col("ar") == 1, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sar"),
        F.sum(F.when(F.col("ar") == 0, F.col("cents")).otherwise(0))
        .cast("bigint")
        .alias("sbr"),
    )
    verdicts = per_rep.crossJoin(F.broadcast(par)).agg(
        F.sum(
            F.when(
                F.abs(
                    F.col("sar").cast("double") / F.col("nar")
                    - F.col("sbr").cast("double") / F.col("nbr")
                )
                >= F.abs(F.col("diff_obs")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_extreme")
    )
    return par.crossJoin(verdicts).select(
        (F.col("na") + F.col("nb")).alias("n_orders"),
        F.col("na").alias("n_urgent"),
        F.col("thr").alias("thr_bp"),
        F.round(F.col("diff_obs"), 6).alias("diff_obs_cents"),
        F.lit(_F88_REPS).alias("n_reps"),
        "n_extreme",
        F.round(
            (F.lit(1.0) + F.col("n_extreme")) / F.lit(_F88_REPS + 1.0), 6
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# F89 — two-sample Kolmogorov–Smirnov (urgent vs standard order value)
#
# The distribution-level companion to f88's mean test: D = max over the
# pooled value grid of |F̂₁ − F̂₂|. Both ECDFs come from ONE multi-
# measure prefix_rank pass over the distinct-cents grain (two
# cumulative counts sharing a single range exchange — the reason
# prefix_rank grew list-valued measures), so no single-partition
# window touches a data-sized relation and the argmax is a
# TakeOrderedAndProject. Counts are exact integers; D divides
# identical doubles. Engine extension.
# ---------------------------------------------------------------------------


@register(
    "f89_ks_two_sample",
    oracle="""
WITH base AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS a,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
  FROM orders
), vals AS (
  SELECT x,
         CAST(SUM(a) AS BIGINT) AS c1,
         CAST(COUNT(*) - SUM(a) AS BIGINT) AS c2
  FROM base GROUP BY x
), cum AS (
  SELECT x,
         SUM(c1) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum1,
         SUM(c2) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cum2,
         SUM(c1) OVER () AS n1,
         SUM(c2) OVER () AS n2
  FROM vals
), d AS (
  SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2, x,
         ABS(CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2) AS dd
  FROM cum
)
SELECT n1, n2,
       ROUND(dd, 6) AS ks_stat,
       x AS ks_at_cents,
       ROUND(SQRT(CAST(n1 AS DOUBLE) * n2 / (CAST(n1 AS DOUBLE) + n2))
             * dd, 6) AS ks_scaled
FROM d ORDER BY dd DESC, x LIMIT 1
""",
    doc="Two-sample KS statistic over order values (urgent vs standard "
    "priority): distinct-cents grain, one multi-measure distributed "
    "prefix scan for both ECDFs, exact counts, argmax with total-order "
    "tiebreak.",
)
def f89_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("a"),
        (X.dec("o_totalprice") * 100).cast("bigint").alias("x"),
    )
    vals = base.groupBy("x").agg(
        F.sum("a").cast("bigint").alias("c1"),
        (F.count("*") - F.sum("a")).cast("bigint").alias("c2"),
    )
    ranked = prefix_rank(
        vals,
        [F.asc("x")],
        ["c1", "c2"],
        cum_col=["cum1", "cum2"],
        pin_input=True,  # orders scan+agg would run 2x in the sampling pass
        total_sum_col=["n1", "n2"],
    )
    dd = F.abs(
        F.col("cum1").cast("double") / F.col("n1")
        - F.col("cum2").cast("double") / F.col("n2")
    )
    top = (
        ranked.select("x", "n1", "n2", dd.alias("dd"))
        .orderBy(F.desc("dd"), F.asc("x"))
        .limit(1)
    )
    return top.select(
        "n1",
        "n2",
        F.round(F.col("dd"), 6).alias("ks_stat"),
        F.col("x").alias("ks_at_cents"),
        F.round(
            F.sqrt(
                F.col("n1").cast("double")
                * F.col("n2")
                / (F.col("n1").cast("double") + F.col("n2"))
            )
            * F.col("dd"),
            6,
        ).alias("ks_scaled"),
    )


# ---------------------------------------------------------------------------
# G32 — record-breaking-day census
#
# Extreme-value bookkeeping on the revenue series (the empirical twin
# of f59's Gumbel fit): which days beat every prior day, per year. The
# running max is a window over the DAY GRAIN — calendar-bounded, so
# the single-partition window is over ≤ a few thousand rows regardless
# of data volume (f48/f51/g28 contract); everything below it is one
# hash aggregate. Integer dollars end-to-end. Engine extension.
# ---------------------------------------------------------------------------


@register(
    "g32_record_breaking_days",
    oracle="""
WITH daily AS (
  SELECT EXTRACT(year FROM o_orderdate) AS yr,
         date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                         AS DECIMAL(38,2)), 0) AS BIGINT) AS y
  FROM orders GROUP BY 1, 2
), flagged AS (
  SELECT yr, d, y,
         MAX(y) OVER (ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prevmax
  FROM daily
)
SELECT CAST(yr AS BIGINT) AS yr,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN prevmax IS NULL OR y > prevmax
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
       CAST(MAX(y) AS BIGINT) AS best_day_rev,
       CAST(MAX(CASE WHEN prevmax IS NULL OR y > prevmax THEN d END)
            AS BIGINT) AS last_record_d
FROM flagged GROUP BY yr ORDER BY yr
""",
    doc="Days whose revenue beats every prior day, censused per year: "
    "day-grain running max (bounded window), integer-dollar series, "
    "record counts and the latest record day ordinal.",
)
def g32_record_breaking_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
        ).alias("d"),
    ).agg(
        F.round(F.sum(X.dec("o_totalprice")).cast("decimal(38,2)"), 0)
        .cast("bigint")
        .alias("y")
    )
    # calendar-bounded day-grain window (f48/f51/g28 contract)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    flagged = daily.withColumn("prevmax", F.max("y").over(w))
    rec = F.col("prevmax").isNull() | (F.col("y") > F.col("prevmax"))
    return (
        flagged.groupBy(F.col("yr").cast("bigint").alias("yr"))
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.sum(F.when(rec, 1).otherwise(0)).cast("bigint").alias("n_records"),
            F.max("y").cast("bigint").alias("best_day_rev"),
            F.max(F.when(rec, F.col("d"))).cast("bigint").alias("last_record_d"),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# G33 — transition entropy (how predictable is the next event?)
#
# The information-theoretic readout over g7's transition matrix:
# conditional entropy H(next | prev = t) per event type, in bits. The
# plan is g7's (one LAG pass over the user partition, grid rollup) plus
# a 5-row entropy fold; probabilities divide exact counts and the log2
# terms are O(1), 12dp-quantized before the decimal sum. Engine
# extension.
# ---------------------------------------------------------------------------


@register(
    "g33_transition_entropy",
    oracle="""
WITH ordered AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), counts AS (
  SELECT prev_type, event_type AS curr_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY prev_type, curr_type
), rt AS (
  SELECT prev_type, CAST(SUM(c) AS BIGINT) AS r FROM counts GROUP BY prev_type
)
SELECT c.prev_type,
       MAX(rt.r) AS n_out,
       CAST(COUNT(*) AS BIGINT) AS n_next_types,
       ROUND(-CAST(SUM(CAST(ROUND((CAST(c.c AS DOUBLE) / rt.r)
                                  * LOG2(CAST(c.c AS DOUBLE) / rt.r), 12)
                            AS DECIMAL(38,12))) AS DOUBLE), 6) AS h_bits
FROM counts c JOIN rt USING (prev_type)
GROUP BY c.prev_type ORDER BY c.prev_type
""",
    doc="Conditional entropy of the next event type given the previous "
    "one, in bits per event type: g7's transition grid + a quantized "
    "entropy fold over exact count ratios.",
)
def g33_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select("prev_type", F.col("event_type").alias("curr_type"))
    )
    counts = pairs.groupBy("prev_type", "curr_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    rt = counts.groupBy("prev_type").agg(F.sum("c").cast("bigint").alias("r"))
    p = F.col("c").cast("double") / F.col("r")
    return (
        counts.join(F.broadcast(rt), "prev_type")
        .groupBy("prev_type")
        .agg(
            F.max("r").alias("n_out"),
            F.count("*").cast("bigint").alias("n_next_types"),
            F.round(
                -F.sum(F.round(p * F.log2(p), 12).cast("decimal(38,12)"))
                .cast("double"),
                6,
            ).alias("h_bits"),
        )
        .orderBy("prev_type")
    )


# ---------------------------------------------------------------------------
# G34 — ordered funnel conversion (view → click → purchase)
#
# The sequence query s5's attribution assumes: how many users complete
# each ORDERED step, where step k counts only events strictly after the
# user's step-(k−1) time. Three per-user min-timestamp aggregates
# chained by semi-structured joins — all three shuffles hash on
# user_id, so Catalyst reuses the exchange; no window, no explode.
# Timestamps compare as epoch microseconds (cross-engine NTZ contract).
# Engine extension.
# ---------------------------------------------------------------------------


@register(
    "g34_funnel_conversion",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS u FROM events
), s1 AS (
  SELECT user_id, MIN(u) AS t1 FROM e WHERE event_type = 'view'
  GROUP BY user_id
), s2 AS (
  SELECT e.user_id, MIN(e.u) AS t2
  FROM e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.u > s1.t1
  GROUP BY e.user_id
), s3 AS (
  SELECT e.user_id, MIN(e.u) AS t3
  FROM e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.u > s2.t2
  GROUP BY e.user_id
), tot AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM e
), steps AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS step1_users,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS step2_users,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS step3_users,
         (SELECT CAST(SUM(s3.t3 - s1.t1) AS BIGINT)
          FROM s3 JOIN s1 ON s3.user_id = s1.user_id) AS sum_us
)
SELECT n_users, step1_users, step2_users, step3_users,
       ROUND(CAST(step1_users AS DOUBLE) / n_users, 6) AS conv_view,
       ROUND(CAST(step2_users AS DOUBLE) / step1_users, 6) AS conv_click,
       ROUND(CAST(step3_users AS DOUBLE) / step2_users, 6) AS conv_purchase,
       ROUND(CAST(sum_us AS DOUBLE) / step3_users / 3600e6, 6)
         AS avg_hours_to_convert
FROM steps CROSS JOIN tot
""",
    doc="Strictly-ordered three-step funnel over per-user event "
    "streams: chained min-timestamp joins on user_id (one reusable "
    "hash exchange), per-step conversion rates, average hours from "
    "first view to qualifying purchase.",
)
def g34_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us(F.col("ts")).alias("u")
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("u").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("u") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("u").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("u") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("u").alias("t3"))
    )
    tot = ev.agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    c1 = s1.agg(F.count("*").cast("bigint").alias("step1_users"))
    c2 = s2.agg(F.count("*").cast("bigint").alias("step2_users"))
    c3 = s3.agg(F.count("*").cast("bigint").alias("step3_users"))
    dur = (
        s3.join(s1, "user_id")
        .agg(F.sum(F.col("t3") - F.col("t1")).cast("bigint").alias("sum_us"))
    )
    steps = c1.crossJoin(c2).crossJoin(c3).crossJoin(dur).crossJoin(tot)
    return steps.select(
        "n_users",
        "step1_users",
        "step2_users",
        "step3_users",
        F.round(
            F.col("step1_users").cast("double") / F.col("n_users"), 6
        ).alias("conv_view"),
        F.round(
            F.col("step2_users").cast("double") / F.col("step1_users"), 6
        ).alias("conv_click"),
        F.round(
            F.col("step3_users").cast("double") / F.col("step2_users"), 6
        ).alias("conv_purchase"),
        F.round(
            F.col("sum_us").cast("double")
            / F.col("step3_users")
            / F.lit(3600e6),
            6,
        ).alias("avg_hours_to_convert"),
    )


# ---------------------------------------------------------------------------
# F90 — stationary distribution of the event-type Markov chain
#
# g7 gives the one-step transition matrix; this converges it: 20
# unrolled power-iteration steps π_{t+1} = π_t·P from the uniform
# start. The chain lives on the EVENT-TYPE grain (≤ a handful of
# states at any data volume), so the iteration is 20 joins over a
# dimension-sized relation — the data-sized work is exactly one LAG
# pass + one grid rollup, same as g7. Each step's terms are
# 14dp-quantized before the (≤ k-term) decimal sum, so both engines
# walk bit-identical iterates. Engine extension: the iterative-
# algorithm shape (label propagation x14, BPE merges x92) on the
# analytics surface.
# ---------------------------------------------------------------------------

_F90_ITERS = 20


def _f90_oracle() -> str:
    steps = []
    prev = "d0"
    for i in range(1, _F90_ITERS + 1):
        steps.append(
            f"d{i} AS (SELECT t.curr_type AS st, "
            "CAST(SUM(CAST(ROUND(d.w * t.p, 14) AS DECIMAL(38,14))) "
            "AS DOUBLE) AS w "
            f"FROM {prev} d JOIN trans t ON t.prev_type = d.st "
            "GROUP BY t.curr_type)"
        )
        prev = f"d{i}"
    chain = ",\n".join(steps)
    return f"""
WITH ordered AS (
  SELECT event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), counts AS (
  SELECT prev_type, event_type AS curr_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY prev_type, curr_type
), rt AS (
  SELECT prev_type, CAST(SUM(c) AS BIGINT) AS r FROM counts GROUP BY prev_type
), trans AS (
  SELECT c.prev_type, c.curr_type, CAST(c.c AS DOUBLE) / rt.r AS p
  FROM counts c JOIN rt USING (prev_type)
), states AS (
  SELECT prev_type AS st FROM rt
), d0 AS (
  SELECT st, CAST(1.0 AS DOUBLE) / k AS w
  FROM states CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states) kk
),
{chain}
SELECT st AS event_type, ROUND(w, 8) AS stationary_prob
FROM {prev} ORDER BY st
"""


@register(
    "f90_markov_stationary",
    oracle=_f90_oracle(),
    doc="Stationary distribution of the event-type transition chain "
    "via 20 quantized power-iteration steps over the state grain; "
    "bit-identical iterates on both engines.",
)
def f90_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select("prev_type", F.col("event_type").alias("curr_type"))
    )
    counts = pairs.groupBy("prev_type", "curr_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    rt = counts.groupBy("prev_type").agg(F.sum("c").cast("bigint").alias("r"))
    trans = counts.join(rt, "prev_type").select(
        "prev_type",
        "curr_type",
        (F.col("c").cast("double") / F.col("r")).alias("p"),
    )
    # The state set is dimension-sized: pin it once so the 20-step
    # loop below iterates over a settled tiny relation, not 20
    # re-expansions of the LAG pass.
    trans = trans.localCheckpoint(eager=True)
    states = trans.select(F.col("prev_type").alias("st")).distinct()
    k = states.agg(F.count("*").cast("bigint").alias("k"))
    # The iterate lives on the STATE grain (bounded dimension at any
    # data volume), so a single partition is its correct layout:
    # coalesce(1) makes every per-step join and groupBy below satisfy
    # its distribution requirement without an Exchange, fusing all 20
    # steps into ONE stage instead of 20 AQE-scheduled shuffle rounds
    # (the profiled plan ran ~290 stages for this query). The
    # data-sized work — the LAG pass and the transition rollup — stays
    # fully distributed above.
    dist = (
        states.crossJoin(F.broadcast(k))
        .select("st", (F.lit(1.0) / F.col("k")).alias("w"))
        .coalesce(1)
    )
    # Broadcast the settled transition relation into every step: the
    # stream side stays single-partition, the 20 identical broadcast
    # subtrees collapse to one build via exchange reuse.
    for _ in range(_F90_ITERS):
        dist = (
            dist.join(F.broadcast(trans), dist.st == trans.prev_type)
            .select(
                F.col("curr_type").alias("st"),
                F.round(F.col("w") * F.col("p"), 14)
                .cast("decimal(38,14)")
                .alias("term"),
            )
            .groupBy("st")
            .agg(F.sum("term").cast("double").alias("w"))
        )
    return dist.select(
        F.col("st").alias("event_type"),
        F.round(F.col("w"), 8).alias("stationary_prob"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# F91 — odds ratio / relative risk with Wald CI (2×2 epidemiology view)
#
# The case-control readout the A/B family (f72/f81/f82) lacks: does an
# URGENT order carry different odds of containing a returned line? One
# fact-fact shuffle on orderkey builds the per-order outcome flag, one
# 1-row aggregate the 2×2 table; OR/RR/CI are scalar libm over exact
# BIGINT cells, rounded at 6dp. Engine extension.
# ---------------------------------------------------------------------------


@register(
    "f91_odds_ratio",
    oracle="""
WITH per_order AS (
  SELECT o.o_orderkey,
         CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS a,
         MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, a
), cells AS (
  SELECT
    CAST(SUM(CASE WHEN a = 1 AND ret = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
    CAST(SUM(CASE WHEN a = 1 AND ret = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
    CAST(SUM(CASE WHEN a = 0 AND ret = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
    CAST(SUM(CASE WHEN a = 0 AND ret = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
  FROM per_order
)
SELECT n11, n10, n01, n00,
       ROUND(CAST(n11 AS DOUBLE) * n00 / (CAST(n10 AS DOUBLE) * n01), 6)
         AS odds_ratio,
       ROUND((CAST(n11 AS DOUBLE) / (n11 + n10))
             / (CAST(n01 AS DOUBLE) / (n01 + n00)), 6) AS relative_risk,
       ROUND(EXP(LN(CAST(n11 AS DOUBLE) * n00 / (CAST(n10 AS DOUBLE) * n01))
                 - 1.96 * SQRT(1.0 / n11 + 1.0 / n10 + 1.0 / n01 + 1.0 / n00)),
             6) AS or_ci_lo,
       ROUND(EXP(LN(CAST(n11 AS DOUBLE) * n00 / (CAST(n10 AS DOUBLE) * n01))
                 + 1.96 * SQRT(1.0 / n11 + 1.0 / n10 + 1.0 / n01 + 1.0 / n00)),
             6) AS or_ci_hi
FROM cells
""",
    doc="Odds ratio + relative risk of a returned line given urgent "
    "priority, with the Wald 95% CI — exact 2×2 cells, scalar-only "
    "libm.",
)
def f91_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("a"),
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "a")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("ret")
        )
    )
    cells = per_order.agg(
        *[
            F.sum(
                F.when((F.col("a") == av) & (F.col("ret") == rv), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(nm)
            for nm, av, rv in [
                ("n11", 1, 1), ("n10", 1, 0), ("n01", 0, 1), ("n00", 0, 0)
            ]
        ]
    )
    orr = (
        F.col("n11").cast("double") * F.col("n00")
        / (F.col("n10").cast("double") * F.col("n01"))
    )
    se = F.sqrt(
        F.lit(1.0) / F.col("n11")
        + F.lit(1.0) / F.col("n10")
        + F.lit(1.0) / F.col("n01")
        + F.lit(1.0) / F.col("n00")
    )
    return cells.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(orr, 6).alias("odds_ratio"),
        F.round(
            (F.col("n11").cast("double") / (F.col("n11") + F.col("n10")))
            / (F.col("n01").cast("double") / (F.col("n01") + F.col("n00"))),
            6,
        ).alias("relative_risk"),
        F.round(F.exp(F.log(orr) - F.lit(1.96) * se), 6).alias("or_ci_lo"),
        F.round(F.exp(F.log(orr) + F.lit(1.96) * se), 6).alias("or_ci_hi"),
    )


# ---------------------------------------------------------------------------
# F92 — Kendall's τ-b on the (quantity, discount) grid
#
# Rank correlation without f61's mid-rank machinery OR the O(n²) pair
# walk: quantity and discount live on a BOUNDED grid (50 × 11 cells),
# so concordant/discordant pair mass is exact cell-count algebra over
# the ≤550-row grid's non-equi self-joins (BroadcastNestedLoopJoin over
# a dimension-sized relation — never a data-sized cartesian). Tie
# corrections from the marginals; all products in DECIMAL(38,0), one
# final sqrt. The same grain trick as f45's Mann-Whitney. Engine
# extension.
# ---------------------------------------------------------------------------


@register(
    "f92_kendall_tau_grid",
    oracle="""
WITH grid AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS y,
         CAST(COUNT(*) AS DECIMAL(18,0)) AS n
  FROM lineitem GROUP BY 1, 2
), conc AS (
  SELECT CAST(SUM(a.n * b.n) AS DOUBLE) AS c
  FROM grid a JOIN grid b ON a.x < b.x AND a.y < b.y
), disc AS (
  SELECT CAST(SUM(a.n * b.n) AS DOUBLE) AS d
  FROM grid a JOIN grid b ON a.x < b.x AND a.y > b.y
), tx AS (
  SELECT CAST(SUM(t * (t - 1)) AS DOUBLE) / 2 AS n1
  FROM (SELECT CAST(SUM(n) AS DECIMAL(18,0)) AS t FROM grid GROUP BY x)
), ty AS (
  SELECT CAST(SUM(t * (t - 1)) AS DOUBLE) / 2 AS n2
  FROM (SELECT CAST(SUM(n) AS DECIMAL(18,0)) AS t FROM grid GROUP BY y)
), tot AS (
  SELECT CAST(nn * (nn - 1) AS DOUBLE) / 2 AS n0,
         CAST(nn AS BIGINT) AS n_lines
  FROM (SELECT CAST(SUM(n) AS DECIMAL(18,0)) AS nn FROM grid)
)
SELECT n_lines, c AS concordant, d AS discordant,
       ROUND((c - d) / SQRT((n0 - n1) * (n0 - n2)), 6) AS tau_b
FROM conc CROSS JOIN disc CROSS JOIN tx CROSS JOIN ty CROSS JOIN tot
""",
    doc="Kendall's τ-b between line quantity and discount from exact "
    "cell-count algebra on the bounded 50×11 grid — concordant/"
    "discordant mass via dimension-grain non-equi self-joins, tie "
    "corrections from the marginals.",
)
def f92_kendall_tau_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    grid = li.groupBy(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_discount") * 100, 0).cast("bigint").alias("y"),
    ).agg(F.count("*").cast("decimal(18,0)").alias("n"))
    grid = grid.localCheckpoint(eager=True)  # grid is ≤550 rows: pin once
    a, b = grid.alias("a"), grid.alias("b")
    conc = (
        a.join(
            F.broadcast(b),
            (F.col("a.x") < F.col("b.x")) & (F.col("a.y") < F.col("b.y")),
        )
        .agg(F.sum(F.col("a.n") * F.col("b.n")).cast("double").alias("c"))
    )
    disc = (
        a.join(
            F.broadcast(b),
            (F.col("a.x") < F.col("b.x")) & (F.col("a.y") > F.col("b.y")),
        )
        .agg(F.sum(F.col("a.n") * F.col("b.n")).cast("double").alias("d"))
    )
    tx = (
        grid.groupBy("x")
        .agg(F.sum("n").cast("decimal(18,0)").alias("t"))
        .agg(
            (F.sum(F.col("t") * (F.col("t") - 1)).cast("double") / 2).alias("n1")
        )
    )
    ty = (
        grid.groupBy("y")
        .agg(F.sum("n").cast("decimal(18,0)").alias("t"))
        .agg(
            (F.sum(F.col("t") * (F.col("t") - 1)).cast("double") / 2).alias("n2")
        )
    )
    tot = grid.agg(F.sum("n").cast("decimal(18,0)").alias("nn")).select(
        ((F.col("nn") * (F.col("nn") - 1)).cast("double") / 2).alias("n0"),
        F.col("nn").cast("bigint").alias("n_lines"),
    )
    return (
        conc.crossJoin(disc)
        .crossJoin(tx)
        .crossJoin(ty)
        .crossJoin(tot)
        .select(
            "n_lines",
            F.col("c").alias("concordant"),
            F.col("d").alias("discordant"),
            F.round(
                (F.col("c") - F.col("d"))
                / F.sqrt((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n2"))),
                6,
            ).alias("tau_b"),
        )
    )


# ---------------------------------------------------------------------------
# F93 — Cochran–Armitage trend test (ordered priority × returned line)
#
# f87 asks "are segment and priority associated at all"; this asks the
# sharper ordered question: does return probability TREND across the
# 1→5 priority scale? Scores are the priority digits; the statistic is
# T = Σtᵢrᵢ − p̂·Σtᵢnᵢ with Var = p̂(1−p̂)(Σtᵢ²nᵢ − (Σtᵢnᵢ)²/N) —
# entirely exact-integer sums combined in identical IEEE doubles, one
# sqrt. Reuses f91's per-order outcome grain. Engine extension.
# ---------------------------------------------------------------------------


@register(
    "f93_cochran_armitage",
    oracle="""
WITH per_order AS (
  SELECT CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS t,
         MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, t
), g AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(ret) AS BIGINT) AS r_g
  FROM per_order GROUP BY t
), s AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
         CAST(SUM(r_g) AS BIGINT) AS r,
         CAST(SUM(t * r_g) AS BIGINT) AS str_r,
         CAST(SUM(t * n_g) AS BIGINT) AS str_n,
         CAST(SUM(t * t * n_g) AS BIGINT) AS st2n
  FROM g
)
SELECT n AS n_orders, r AS n_returned,
       ROUND(CAST(str_r AS DOUBLE)
             - (CAST(r AS DOUBLE) / n) * str_n, 6) AS trend_t,
       ROUND((CAST(str_r AS DOUBLE) - (CAST(r AS DOUBLE) / n) * str_n)
             / SQRT((CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n)
                    * (CAST(st2n AS DOUBLE)
                       - CAST(str_n AS DOUBLE) * str_n / n)), 6) AS z_stat
FROM s
""",
    doc="Cochran–Armitage test for a monotone trend in return "
    "probability across the ordered 1-5 priority scale; exact integer "
    "score sums, one sqrt.",
)
def f93_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("t"),
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    per_order = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "t")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("ret")
        )
    )
    g = per_order.groupBy("t").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum("ret").cast("bigint").alias("r_g"),
    )
    s = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("r_g").cast("bigint").alias("r"),
        F.sum(F.col("t") * F.col("r_g")).cast("bigint").alias("str_r"),
        F.sum(F.col("t") * F.col("n_g")).cast("bigint").alias("str_n"),
        F.sum(F.col("t") * F.col("t") * F.col("n_g"))
        .cast("bigint")
        .alias("st2n"),
    )
    p = F.col("r").cast("double") / F.col("n")
    t_stat = F.col("str_r").cast("double") - p * F.col("str_n")
    var = (
        p
        * (F.lit(1.0) - p)
        * (
            F.col("st2n").cast("double")
            - F.col("str_n").cast("double") * F.col("str_n") / F.col("n")
        )
    )
    return s.select(
        F.col("n").alias("n_orders"),
        F.col("r").alias("n_returned"),
        F.round(t_stat, 6).alias("trend_t"),
        F.round(t_stat / F.sqrt(var), 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# F94 — peaks-over-threshold GPD moment fit (tail risk beyond f57/f59)
#
# f57 fits the tail index from order statistics, f59 from block maxima;
# the third classical view is peaks-over-threshold: excesses above a
# fixed high threshold follow a Generalized Pareto, whose moment
# estimators ξ̂ = (1 − m²/s²)/2 and β̂ = m(m²/s² + 1)/2 need only the
# excess mean and variance — two exact-cents sums from one filtered
# scan (the predicate pushes to parquet). Engine extension.
# ---------------------------------------------------------------------------

_F94_THRESHOLD_CENTS = 30_000_000  # $300,000


@register(
    "f94_peaks_over_threshold",
    oracle=f"""
WITH exc AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
         - {_F94_THRESHOLD_CENTS} AS y
  FROM orders
  WHERE CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        > {_F94_THRESHOLD_CENTS}
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(y AS DECIMAL(18,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
              AS DOUBLE) AS s2
  FROM exc
)
SELECT n AS n_exceedances,
       {_F94_THRESHOLD_CENTS} AS threshold_cents,
       ROUND(s1 / n, 6) AS mean_excess,
       ROUND((1.0 - (s1 / n) * (s1 / n) / (s2 / n - (s1 / n) * (s1 / n)))
             / 2.0, 6) AS xi_hat,
       ROUND((s1 / n) * ((s1 / n) * (s1 / n)
                         / (s2 / n - (s1 / n) * (s1 / n)) + 1.0)
             / 2.0, 6) AS beta_hat
FROM s
""",
    doc="Generalized-Pareto moment fit to order-value excesses over a "
    "fixed $300k threshold: mean excess, ξ̂ and β̂ from two exact "
    "decimal sums on a pushdown-filtered scan.",
)
def f94_peaks_over_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cents = (X.dec("o_totalprice") * 100).cast("bigint")
    exc = o.select(
        (cents - F.lit(_F94_THRESHOLD_CENTS)).alias("y")
    ).filter(cents > F.lit(_F94_THRESHOLD_CENTS))
    s = exc.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("y").cast("decimal(18,0)")).cast("double").alias("s1"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)"))
        .cast("double")
        .alias("s2"),
    )
    m = F.col("s1") / F.col("n")
    v = F.col("s2") / F.col("n") - m * m
    return s.select(
        F.col("n").alias("n_exceedances"),
        F.lit(_F94_THRESHOLD_CENTS).alias("threshold_cents"),
        F.round(m, 6).alias("mean_excess"),
        F.round((F.lit(1.0) - m * m / v) / F.lit(2.0), 6).alias("xi_hat"),
        F.round(m * (m * m / v + F.lit(1.0)) / F.lit(2.0), 6).alias("beta_hat"),
    )


# ---------------------------------------------------------------------------
# M19 — event-id ordering audit (ingestion-order data-quality check)
#
# Monotone surrogate keys are the silent assumption behind CDC replay
# (c10) and keyset pagination (d9): if event_id order disagrees with
# timestamp order, both are subtly wrong. One LAG pass over the user
# partition (the g1/g7 sort, reused) counts inversions — pairs where
# the id DECREASES while time advances — per user and overall. Engine
# extension to the proving-audit family (m13/m16/m18).
# ---------------------------------------------------------------------------


@register(
    "m19_id_order_audit",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id,
         LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_id
  FROM events
), pairs AS (
  SELECT user_id, CASE WHEN prev_id > event_id THEN 1 ELSE 0 END AS inv
  FROM ordered WHERE prev_id IS NOT NULL
), per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(inv) AS BIGINT) AS n_inv
  FROM pairs GROUP BY user_id
)
SELECT CAST(SUM(n_pairs) AS BIGINT) AS n_pairs,
       CAST(SUM(n_inv) AS BIGINT) AS n_inversions,
       ROUND(CAST(SUM(n_inv) AS DOUBLE) / SUM(n_pairs), 6)
         AS inversion_rate,
       CAST(SUM(CASE WHEN n_inv > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS users_affected,
       CAST(COUNT(*) AS BIGINT) AS users_total
FROM per_user
""",
    doc="Do event ids advance with time? Per-user LAG inversion count "
    "(id decreasing while ts advances) — the monotone-surrogate-key "
    "audit behind CDC replay and keyset pagination.",
)
def m19_id_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("prev_id", F.lag("event_id").over(w))
        .filter(F.col("prev_id").isNotNull())
        .select(
            "user_id",
            F.when(F.col("prev_id") > F.col("event_id"), 1)
            .otherwise(0)
            .alias("inv"),
        )
    )
    per_user = pairs.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("inv").cast("bigint").alias("n_inv"),
    )
    return per_user.agg(
        F.sum("n_pairs").cast("bigint").alias("n_pairs"),
        F.sum("n_inv").cast("bigint").alias("n_inversions"),
        F.round(
            F.sum("n_inv").cast("double") / F.sum("n_pairs"), 6
        ).alias("inversion_rate"),
        F.sum(F.when(F.col("n_inv") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("users_affected"),
        F.count("*").cast("bigint").alias("users_total"),
    )


# ---------------------------------------------------------------------------
# F95 — Holt linear-trend smoothing of monthly revenue
#
# Double exponential smoothing (level + trend) is the classic
# short-horizon forecaster the f42 backtest and f28 YoY views lead to.
# The recursion l_t = αy_t + (1−α)(l_{t-1}+b_{t-1}) is sequential — not
# a window, not an associative fold — so the Spark plan aggregates the
# fact table to the bounded month grain FIRST (distributed, exact
# decimal) and runs the scan as ONE Arrow batch through
# operators/smoothing.py (applyInPandas, grain-guarded). α = β = 0.5
# are exact binary fractions and the recursion's expression tree is
# written identically in the UDF and in this recursive-CTE oracle, so
# the doubles match bit-for-bit cross-engine. Engine extension (the
# reference has no time-series operators).
# ---------------------------------------------------------------------------


@register(
    "f95_holt_trend",
    oracle="""
WITH RECURSIVE monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
              AS DOUBLE) AS y
  FROM orders GROUP BY month
), idx AS (
  SELECT month, y, ROW_NUMBER() OVER (ORDER BY month) AS t FROM monthly
), hw AS (
  SELECT t, month, y,
         y AS level, CAST(0 AS DOUBLE) AS trend, y AS fitted
  FROM idx WHERE t = 1
  UNION ALL
  SELECT i.t, i.month, i.y,
         0.5 * i.y + 0.5 * (hw.level + hw.trend) AS level,
         0.5 * ((0.5 * i.y + 0.5 * (hw.level + hw.trend)) - hw.level)
           + 0.5 * hw.trend AS trend,
         hw.level + hw.trend AS fitted
  FROM hw JOIN idx i ON i.t = hw.t + 1
)
SELECT month, y,
       ROUND(level, 6) AS level,
       ROUND(trend, 6) AS trend,
       ROUND(fitted, 6) AS fitted,
       ROUND(y - fitted, 6) AS residual
FROM hw
ORDER BY month
""",
    doc="Holt linear-trend (double exponential) smoothing of monthly "
    "revenue: distributed exact-decimal aggregation to the month "
    "grain, then one sequential Arrow batch (operators/smoothing.py); "
    "α=β=0.5 exact halvings keep the recursion bit-identical to the "
    "recursive-CTE oracle.",
)
def f95_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.operators.smoothing import holt_linear

    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(to_month("o_orderdate").alias("month")).agg(
        F.sum(X.dec("o_totalprice"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("y")
    )
    fit = holt_linear(monthly, "month", "y")
    return fit.select(
        "month",
        "y",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("fitted", 6).alias("fitted"),
        F.round(F.col("y") - F.col("fitted"), 6).alias("residual"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# F96 — weighted isotonic regression (PAVA) of discount vs quantity
#
# Isotonic regression is usually presented as the sequential
# pool-adjacent-violators algorithm, but its solution has a CLOSED
# minimax form — fit_i = max_{j≤i} min_{k≥i} weightedMean(y_j..y_k) —
# which needs only cumulative sums on the grain and a bounded pair
# join, so BOTH engines compute it declaratively (no recursion, no
# UDF). The grain is l_quantity (integers 1..50): the fact scan
# reduces to 50 rows distributed, the window/cross joins run on the
# bounded grain (lint-allowlisted, probed). All means are exact-
# decimal-difference / count-difference divisions — identical doubles
# cross-engine. Engine extension (monotone calibration for the f8x
# battery / ML score calibration).
# ---------------------------------------------------------------------------


@register(
    "f96_isotonic_discount",
    oracle="""
WITH grain AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_discount AS DECIMAL(6,4))) AS DECIMAL(38,4)) AS s
  FROM lineitem GROUP BY q
), cum AS (
  SELECT q, n, s,
         CAST(SUM(s) OVER (ORDER BY q) AS DECIMAL(38,4)) AS cs,
         CAST(SUM(n) OVER (ORDER BY q) AS BIGINT) AS cn
  FROM grain
), pairs AS (
  SELECT j.q AS jq, k.q AS kq,
         CAST(k.cs - (j.cs - j.s) AS DOUBLE)
           / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS seg_mean
  FROM cum j JOIN cum k ON j.q <= k.q
), inner_min AS (
  SELECT i.q AS q, p.jq AS jq, MIN(p.seg_mean) AS m
  FROM cum i JOIN pairs p ON p.jq <= i.q AND p.kq >= i.q
  GROUP BY i.q, p.jq
)
SELECT g.q AS quantity, g.n AS n_lines,
       ROUND(CAST(g.s AS DOUBLE) / g.n, 6) AS raw_avg_discount,
       ROUND(MAX(im.m), 6) AS iso_fit
FROM grain g JOIN inner_min im ON im.q = g.q
GROUP BY g.q, g.n, g.s
ORDER BY quantity
""",
    doc="Weighted isotonic regression of mean discount on quantity via "
    "the minimax identity fit_i = max_{j<=i} min_{k>=i} mean(j..k): "
    "fact scan reduces to the 50-row quantity grain, then bounded "
    "grain-pair joins — PAVA with no recursion and no UDF.",
)
def f96_isotonic_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.plans._session_index import materialize

    l = table(spark, sf_dir, "lineitem")
    grain = l.groupBy(
        F.col("l_quantity").cast("bigint").alias("q")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(X.dec("l_discount", X.RATE)).cast("decimal(38,4)").alias("s"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    # Pin the 50-row cumulated grain once: the pair join, the i-grain
    # probe and the final rollup all reference this relation — without
    # the pin each reference re-runs the FULL lineitem scan (4 scans
    # for one query at 100 TB).
    cum = materialize(
        grain.select(
            "q",
            "n",
            "s",
            F.sum("s").over(w).cast("decimal(38,4)").alias("cs"),
            F.sum("n").over(w).cast("bigint").alias("cn"),
        )
    )
    j, k = cum.alias("j"), cum.alias("k")
    pairs = j.join(k, F.col("j.q") <= F.col("k.q")).select(
        F.col("j.q").alias("jq"),
        F.col("k.q").alias("kq"),
        (
            (F.col("k.cs") - (F.col("j.cs") - F.col("j.s"))).cast("double")
            / (F.col("k.cn") - (F.col("j.cn") - F.col("j.n"))).cast("double")
        ).alias("seg_mean"),
    )
    i = cum.select(F.col("q")).alias("i")
    inner_min = (
        i.join(
            pairs,
            (F.col("jq") <= F.col("i.q")) & (F.col("kq") >= F.col("i.q")),
        )
        .groupBy(F.col("i.q").alias("q"), "jq")
        .agg(F.min("seg_mean").alias("m"))
    )
    return (
        cum.select("q", "n", "s").alias("g")
        .join(inner_min.alias("im"), F.col("im.q") == F.col("g.q"))
        .groupBy(
            F.col("g.q").alias("quantity"),
            F.col("g.n").alias("n_lines"),
            F.col("g.s").alias("__s"),
        )
        .agg(
            F.round(
                F.col("__s").cast("double") / F.col("n_lines"), 6
            ).alias("raw_avg_discount"),
            F.round(F.max("m"), 6).alias("iso_fit"),
        )
        .drop("__s")
        .orderBy("quantity")
    )


# ---------------------------------------------------------------------------
# F97 — Benjamini-Hochberg FDR over the per-nation mean-balance battery
#
# The f8x family computes single test statistics; running a BATTERY of
# 25 per-nation tests needs multiple-comparison control. Two-sample
# Welch z per nation (nation vs rest — exact decimal sums, identical
# double algebra both engines), two-sided p via the Abramowitz-Stegun
# 7.1.26 erfc polynomial (same nesting both engines; exp() is the only
# libm call, ~1 ulp cross-engine, 6dp-round safe), then the BH
# step-up: rank p ascending, reject every rank ≤ the largest k with
# p_(k) ≤ k·q/m. Rank windows run on the bounded nation grain
# (lint-allowlisted, probed = 25). Engine extension.
# ---------------------------------------------------------------------------

_F97_Q = 0.10  # target false-discovery rate


@register(
    "f97_bh_fdr",
    oracle=f"""
WITH per_nation AS (
  SELECT n.n_name AS nation,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS s1,
         CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))
                  * CAST(c.c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,4)) AS s2
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY n.n_name
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn,
         CAST(SUM(s1) AS DECIMAL(38,2)) AS ts1,
         CAST(SUM(s2) AS DECIMAL(38,4)) AS ts2
  FROM per_nation
), z AS (
  SELECT nation, n,
         (CAST(s1 AS DOUBLE) / n
          - CAST(ts1 - s1 AS DOUBLE) / (tn - n))
         / SQRT(
             ((CAST(s2 AS DOUBLE)
               - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) / n
             + ((CAST(ts2 - s2 AS DOUBLE)
                 - CAST(ts1 - s1 AS DOUBLE) * CAST(ts1 - s1 AS DOUBLE)
                   / (tn - n)) / (tn - n - 1)) / (tn - n)
           ) AS z_stat
  FROM per_nation, tot
), pv AS (
  SELECT nation, n, z_stat,
         (1.0 / (1.0 + 0.3275911 * (ABS(z_stat) / SQRT(2.0))))
         * (0.254829592
            + (1.0 / (1.0 + 0.3275911 * (ABS(z_stat) / SQRT(2.0))))
            * (-0.284496736
               + (1.0 / (1.0 + 0.3275911 * (ABS(z_stat) / SQRT(2.0))))
               * (1.421413741
                  + (1.0 / (1.0 + 0.3275911 * (ABS(z_stat) / SQRT(2.0))))
                  * (-1.453152027
                     + (1.0 / (1.0 + 0.3275911 * (ABS(z_stat) / SQRT(2.0))))
                     * 1.061405429))))
         * EXP(-(ABS(z_stat) / SQRT(2.0)) * (ABS(z_stat) / SQRT(2.0)))
           AS p_value
  FROM z
), ranked AS (
  SELECT nation, n, z_stat, p_value,
         CAST(ROW_NUMBER() OVER (ORDER BY p_value, nation) AS BIGINT)
           AS p_rank,
         CAST(COUNT(*) OVER () AS BIGINT) AS m
  FROM pv
), cut AS (
  SELECT *,
         CAST(p_rank AS DOUBLE) * {_F97_Q} / m AS bh_crit,
         MAX(CASE WHEN p_value <= CAST(p_rank AS DOUBLE) * {_F97_Q} / m
                  THEN p_rank END) OVER () AS kmax
  FROM ranked
)
SELECT nation, n AS n_customers,
       ROUND(z_stat, 6) AS z_stat,
       ROUND(p_value, 6) AS p_value,
       p_rank,
       ROUND(bh_crit, 6) AS bh_crit,
       CAST(CASE WHEN p_rank <= COALESCE(kmax, 0) THEN 1 ELSE 0 END
            AS BIGINT) AS rejected
FROM cut
ORDER BY p_rank
""",
    doc="Benjamini-Hochberg FDR control over 25 per-nation Welch "
    "z-tests (mean account balance, nation vs rest): exact-decimal "
    "moment sums, A&S-7.1.26 erfc p-values, step-up rejection at "
    f"q={_F97_Q} on the bounded nation grain.",
)
def f97_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    nt = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    bal = X.dec("c_acctbal")
    per = (
        c.join(F.broadcast(nt), c.c_nationkey == nt.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(bal).cast("decimal(38,2)").alias("s1"),
            F.sum(bal * bal).cast("decimal(38,4)").alias("s2"),
        )
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("s1").cast("decimal(38,2)").alias("ts1"),
        F.sum("s2").cast("decimal(38,4)").alias("ts2"),
    )
    j = per.crossJoin(F.broadcast(tot))
    nn, tnn = F.col("n"), F.col("tn") - F.col("n")
    mean = F.col("s1").cast("double") / nn
    mean_r = (F.col("ts1") - F.col("s1")).cast("double") / tnn
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / nn
    ) / (nn - F.lit(1))
    s1r = (F.col("ts1") - F.col("s1")).cast("double")
    var_r = (
        (F.col("ts2") - F.col("s2")).cast("double") - s1r * s1r / tnn
    ) / (tnn - F.lit(1))
    z = (mean - mean_r) / F.sqrt(var / nn + var_r / tnn)
    zc = j.select("nation", "n", z.alias("z_stat"))
    x = F.abs(F.col("z_stat")) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    p = (
        t
        * (
            F.lit(0.254829592)
            + t
            * (
                F.lit(-0.284496736)
                + t
                * (
                    F.lit(1.421413741)
                    + t * (F.lit(-1.453152027) + t * F.lit(1.061405429))
                )
            )
        )
        * F.exp(-x * x)
    )
    pv = zc.select("nation", "n", "z_stat", p.alias("p_value"))
    w_all = Window.partitionBy()
    ranked = pv.select(
        "nation",
        "n",
        "z_stat",
        "p_value",
        F.row_number()
        .over(Window.orderBy("p_value", "nation"))
        .cast("bigint")
        .alias("p_rank"),
        F.count("*").over(w_all).cast("bigint").alias("m"),
    )
    crit = F.col("p_rank").cast("double") * F.lit(_F97_Q) / F.col("m")
    cut = ranked.select(
        "*",
        crit.alias("bh_crit"),
        F.max(
            F.when(F.col("p_value") <= crit, F.col("p_rank"))
        )
        .over(w_all)
        .alias("kmax"),
    )
    return cut.select(
        "nation",
        F.col("n").alias("n_customers"),
        F.round("z_stat", 6).alias("z_stat"),
        F.round("p_value", 6).alias("p_value"),
        "p_rank",
        F.round("bh_crit", 6).alias("bh_crit"),
        F.when(F.col("p_rank") <= F.coalesce(F.col("kmax"), F.lit(0)), 1)
        .otherwise(0)
        .cast("bigint")
        .alias("rejected"),
    ).orderBy("p_rank")


# ---------------------------------------------------------------------------
# F98 — Chow structural-break test on the daily revenue trend
#
# f51 detects WHERE a level change happened (CUSUM); the Chow test
# answers the confirmatory question: did the linear trend CHANGE at a
# known date? Fit OLS lines to the day-grain revenue before and after
# the split and compare pooled vs split residual sums of squares:
# F = ((RSS_p − RSS_1 − RSS_2)/k) / ((RSS_1 + RSS_2)/(n − 2k)), k=2.
# Every moment (n, Σt, Σy, Σty, Σt², Σy²) is an exact BIGINT on the
# day grain — y is quantized to whole k$ by integer division so Σy²
# stays far below 2^53 at any SF — and the RSS algebra is the same
# double expression tree in both engines. Engine extension.
# ---------------------------------------------------------------------------

_F98_BREAK = "1998-01-01"
_F98_EPOCH = "1992-01-01"


def _f98_rss_sql(n: str, st: str, sy: str, sty: str, st2: str, sy2: str) -> str:
    """RSS of an OLS line from exact integer moments (DOUBLE algebra —
    written with the same tree as the Spark twin below)."""
    return (
        f"((CAST({sy2} AS DOUBLE) - CAST({sy} AS DOUBLE) * CAST({sy} AS DOUBLE) / {n})"
        f" - (CAST({sty} AS DOUBLE) - CAST({st} AS DOUBLE) * CAST({sy} AS DOUBLE) / {n})"
        f" * (CAST({sty} AS DOUBLE) - CAST({st} AS DOUBLE) * CAST({sy} AS DOUBLE) / {n})"
        f" / (CAST({st2} AS DOUBLE) - CAST({st} AS DOUBLE) * CAST({st} AS DOUBLE) / {n}))"
    )


def _f98_rss_col(n, st, sy, sty, st2, sy2) -> F.Column:
    syy = sy2.cast("double") - sy.cast("double") * sy.cast("double") / n
    sxy = sty.cast("double") - st.cast("double") * sy.cast("double") / n
    sxx = st2.cast("double") - st.cast("double") * st.cast("double") / n
    return syy - sxy * sxy / sxx


_F98_MOM = """
WITH daily AS (
  SELECT CAST(datediff('day', DATE '{epoch}', o_orderdate) AS BIGINT) AS t,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
              AS BIGINT) // 100000 AS y,
         CASE WHEN o_orderdate < DATE '{brk}' THEN 0 ELSE 1 END AS seg
  FROM orders GROUP BY o_orderdate
), seg_m AS (
  SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(t * y) AS BIGINT) AS sty,
         CAST(SUM(t * t) AS BIGINT) AS st2,
         CAST(SUM(y * y) AS BIGINT) AS sy2
  FROM daily GROUP BY seg
), wide AS (
  SELECT
    MAX(CASE WHEN seg = 0 THEN n END) AS n1,
    MAX(CASE WHEN seg = 0 THEN st END) AS st_1,
    MAX(CASE WHEN seg = 0 THEN sy END) AS sy_1,
    MAX(CASE WHEN seg = 0 THEN sty END) AS sty_1,
    MAX(CASE WHEN seg = 0 THEN st2 END) AS st2_1,
    MAX(CASE WHEN seg = 0 THEN sy2 END) AS sy2_1,
    MAX(CASE WHEN seg = 1 THEN n END) AS n2,
    MAX(CASE WHEN seg = 1 THEN st END) AS st_2,
    MAX(CASE WHEN seg = 1 THEN sy END) AS sy_2,
    MAX(CASE WHEN seg = 1 THEN sty END) AS sty_2,
    MAX(CASE WHEN seg = 1 THEN st2 END) AS st2_2,
    MAX(CASE WHEN seg = 1 THEN sy2 END) AS sy2_2
  FROM seg_m
)
"""


@register(
    "f98_chow_break",
    oracle=(
        _F98_MOM.format(epoch=_F98_EPOCH, brk=_F98_BREAK)
        + f"""
SELECT n1 AS n_pre, n2 AS n_post,
       '{_F98_BREAK}' AS break_date,
       ROUND({_f98_rss_sql('(n1 + n2)', '(st_1 + st_2)', '(sy_1 + sy_2)',
                           '(sty_1 + sty_2)', '(st2_1 + st2_2)',
                           '(sy2_1 + sy2_2)')}, 6) AS rss_pooled,
       ROUND({_f98_rss_sql('n1', 'st_1', 'sy_1', 'sty_1', 'st2_1', 'sy2_1')},
             6) AS rss_pre,
       ROUND({_f98_rss_sql('n2', 'st_2', 'sy_2', 'sty_2', 'st2_2', 'sy2_2')},
             6) AS rss_post,
       ROUND((({_f98_rss_sql('(n1 + n2)', '(st_1 + st_2)', '(sy_1 + sy_2)',
                             '(sty_1 + sty_2)', '(st2_1 + st2_2)',
                             '(sy2_1 + sy2_2)')}
               - {_f98_rss_sql('n1', 'st_1', 'sy_1', 'sty_1', 'st2_1', 'sy2_1')}
               - {_f98_rss_sql('n2', 'st_2', 'sy_2', 'sty_2', 'st2_2', 'sy2_2')})
              / 2.0)
             / (({_f98_rss_sql('n1', 'st_1', 'sy_1', 'sty_1', 'st2_1', 'sy2_1')}
                 + {_f98_rss_sql('n2', 'st_2', 'sy_2', 'sty_2', 'st2_2', 'sy2_2')})
                / (n1 + n2 - 4)), 6) AS chow_f
FROM wide
"""
    ),
    doc="Chow test for a linear-trend break in daily revenue at "
    f"{_F98_BREAK}: exact integer OLS moments per segment (k$-"
    "quantized day grain), pooled-vs-split RSS in identical double "
    "algebra, F with (2, n-4) degrees of freedom.",
)
def f98_chow_break(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cents = (X.dec("o_totalprice") * 100).cast("bigint")
    daily = (
        o.groupBy("o_orderdate")
        .agg(F.sum(cents).cast("bigint").alias("yc"))
        .select(
            F.expr(
                f"CAST(datediff(o_orderdate, DATE '{_F98_EPOCH}') AS BIGINT)"
            ).alias("t"),
            F.expr("yc div 100000").alias("y"),
            F.when(
                F.col("o_orderdate") < F.lit(_F98_BREAK).cast("date"), 0
            )
            .otherwise(1)
            .alias("seg"),
        )
    )
    seg_m = daily.groupBy("seg").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("st2"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("sy2"),
    )

    def seg(col: str, s: int) -> F.Column:
        return F.max(F.when(F.col("seg") == s, F.col(col)))

    wide = seg_m.agg(
        *[
            seg(c, s).alias(f"{c}_{s + 1}")
            for s in (0, 1)
            for c in ("n", "st", "sy", "sty", "st2", "sy2")
        ]
    )
    m1 = [F.col(f"{c}_1") for c in ("n", "st", "sy", "sty", "st2", "sy2")]
    m2 = [F.col(f"{c}_2") for c in ("n", "st", "sy", "sty", "st2", "sy2")]
    mp = [a + b for a, b in zip(m1, m2)]
    rss1, rss2, rssp = (
        _f98_rss_col(*m1),
        _f98_rss_col(*m2),
        _f98_rss_col(*mp),
    )
    n_tot = F.col("n_1") + F.col("n_2")
    return wide.select(
        F.col("n_1").alias("n_pre"),
        F.col("n_2").alias("n_post"),
        F.lit(_F98_BREAK).alias("break_date"),
        F.round(rssp, 6).alias("rss_pooled"),
        F.round(rss1, 6).alias("rss_pre"),
        F.round(rss2, 6).alias("rss_post"),
        F.round(
            ((rssp - rss1 - rss2) / F.lit(2.0))
            / ((rss1 + rss2) / (n_tot - F.lit(4))),
            6,
        ).alias("chow_f"),
    )


# ---------------------------------------------------------------------------
# F99 — two-sample Anderson–Darling (urgent vs standard order value)
#
# The tail-sensitive companion to f89's KS on the same split: the
# Scholz–Stephens A²kN statistic (k = 2, right-continuous ECDF, ties
# collapsed to the distinct-cents grain), which for two samples
# reduces to
#
#   A² = Σ_{j : B_j < N}  l_j · D_j² / (n·m · B_j · (N − B_j)),
#   D_j = N·M_j − n·B_j
#
# with M_j / B_j the sample-1 / pooled cumulative counts at grid
# value j and l_j the pooled multiplicity. Both cumulative counts
# come from ONE multi-measure prefix_rank pass (f89's plan shape —
# a single range exchange, no single-partition window). D_j, B_j and
# every denominator factor are exact integers below 2^53, so the
# per-term double algebra is IEEE-deterministic; terms are
# 12dp-quantized before an exact decimal sum (g33 contract).
# Engine extension.
# ---------------------------------------------------------------------------


@register(
    "f99_anderson_darling",
    oracle="""
WITH base AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS a,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
  FROM orders
), vals AS (
  SELECT x,
         CAST(SUM(a) AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS l
  FROM base GROUP BY x
), cum AS (
  SELECT l,
         CAST(SUM(c1) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS m,
         CAST(SUM(l) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS b,
         CAST(SUM(c1) OVER () AS BIGINT) AS n1,
         CAST(SUM(l) OVER () AS BIGINT) AS nn
  FROM vals
), terms AS (
  SELECT n1, nn - n1 AS n2, nn,
         ROUND(((CAST(nn * m - n1 * b AS DOUBLE) / n1)
                * (CAST(nn * m - n1 * b AS DOUBLE) / (nn - n1)))
               * l / CAST(b * (nn - b) AS DOUBLE), 12) AS t
  FROM cum WHERE b < nn
)
SELECT MAX(n1) AS n1, MAX(n2) AS n2,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(CAST(SUM(CAST(t AS DECIMAL(38,12))) AS DOUBLE), 6) AS ad_stat
FROM terms
""",
    doc="Two-sample Anderson–Darling A² over order values (urgent vs "
    "standard priority): distinct-cents grain, one multi-measure "
    "distributed prefix scan for both cumulative counts, exact-integer "
    "term numerators, 12dp-quantized terms under an exact decimal sum.",
)
def f99_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("a"),
        (X.dec("o_totalprice") * 100).cast("bigint").alias("x"),
    )
    vals = base.groupBy("x").agg(
        F.sum("a").cast("bigint").alias("c1"),
        F.count("*").cast("bigint").alias("l"),
    )
    ranked = prefix_rank(
        vals,
        [F.asc("x")],
        ["c1", "l"],
        cum_col=["m", "b"],
        total_sum_col=["n1", "nn"],
        pin_input=True,  # orders scan+agg would run 2x in the sampling pass
    )
    d = (F.col("nn") * F.col("m") - F.col("n1") * F.col("b")).cast("double")
    n2 = F.col("nn") - F.col("n1")
    term = F.round(
        ((d / F.col("n1")) * (d / n2))
        * F.col("l")
        / (F.col("b") * (F.col("nn") - F.col("b"))).cast("double"),
        12,
    )
    return (
        ranked.filter(F.col("b") < F.col("nn"))
        .select(
            "n1",
            n2.alias("n2"),
            term.alias("t"),
        )
        .agg(
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.count("*").cast("bigint").alias("n_terms"),
            F.round(
                F.sum(F.col("t").cast("decimal(38,12)")).cast("double"), 6
            ).alias("ad_stat"),
        )
    )


# ---------------------------------------------------------------------------
# F100 — pinball-loss quantile fit (quantile "regression" lite)
#
# Evaluates the pinball (check) loss L_τ(q) = Σ ρ_τ(y − q) for EVERY
# candidate q on the distinct-cents grid and reports the argmin per
# τ ∈ {10, 25, 50, 75, 90}% — the empirical τ-quantile, derived the
# way a quantile regression would derive it instead of via a sort
# position. The trick that makes the grid sweep one pass: with
# cumulative count/sum (cc, cs) at q and grand totals (n, st),
#
#   100·L_τ(q) = τ·((st − cs) − q·(n − cc)) + (100 − τ)·(q·cc − cs)
#
# so every candidate's loss is O(1) arithmetic on ONE multi-measure
# prefix_rank pass (no q×data join), all in exact bigint cents×percent
# units. The per-τ argmin is a lexicographic struct-min hash
# aggregate with the value tiebreak. Engine extension.
# ---------------------------------------------------------------------------


@register(
    "f100_pinball_quantiles",
    oracle="""
WITH vals AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY x
), cum AS (
  SELECT x,
         CAST(SUM(c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cc,
         CAST(SUM(x * c) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cs,
         CAST(SUM(c) OVER () AS BIGINT) AS n,
         CAST(SUM(x * c) OVER () AS BIGINT) AS st
  FROM vals
), losses AS (
  SELECT t.tau, x, n,
         t.tau * ((st - cs) - x * (n - cc))
           + (100 - t.tau) * (x * cc - cs) AS loss
  FROM cum CROSS JOIN (VALUES (10), (25), (50), (75), (90)) t(tau)
), best AS (
  SELECT tau, x, loss, n,
         ROW_NUMBER() OVER (PARTITION BY tau ORDER BY loss, x) AS rn
  FROM losses
)
SELECT CAST(tau AS BIGINT) AS tau_pct,
       x AS q_cents,
       CAST(loss AS BIGINT) AS loss_cp,
       n AS n_orders
FROM best WHERE rn = 1 ORDER BY tau_pct
""",
    doc="Pinball-loss quantile fit over order values: loss of every "
    "distinct-cents candidate from one multi-measure prefix scan "
    "(cumulative count+sum), exact bigint cents×percent units, per-τ "
    "argmin as a struct-min aggregate — the quantile-regression view "
    "of the {10,25,50,75,90}% quantiles.",
)
def f100_pinball_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    vals = (
        o.select((X.dec("o_totalprice") * 100).cast("bigint").alias("x"))
        .groupBy("x")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select("x", "c", (F.col("x") * F.col("c")).alias("s"))
    )
    ranked = prefix_rank(
        vals,
        [F.asc("x")],
        ["c", "s"],
        cum_col=["cc", "cs"],
        total_sum_col=["n", "st"],
        pin_input=True,  # orders scan+agg would run 2x in the sampling pass
    )
    tau = F.col("tau")
    loss = tau * (
        (F.col("st") - F.col("cs"))
        - F.col("x") * (F.col("n") - F.col("cc"))
    ) + (F.lit(100) - tau) * (F.col("x") * F.col("cc") - F.col("cs"))
    # explode first (tau must exist as an input column before the loss
    # projection can reference it), then fold the candidate losses
    losses = ranked.select(
        F.explode(
            F.array(*[F.lit(t) for t in (10, 25, 50, 75, 90)])
        ).alias("tau"),
        "x",
        "cc",
        "cs",
        "n",
        "st",
    ).select("tau", "n", loss.alias("loss"), "x")
    return (
        losses.groupBy(F.col("tau").cast("bigint").alias("tau_pct"))
        .agg(
            F.min(F.struct("loss", "x")).alias("b"),
            F.max("n").alias("n_orders"),
        )
        .select(
            "tau_pct",
            F.col("b.x").alias("q_cents"),
            F.col("b.loss").cast("bigint").alias("loss_cp"),
            "n_orders",
        )
        .orderBy("tau_pct")
    )


# ---------------------------------------------------------------------------
# F101 — Grubbs outlier statistic per year (max studentized deviate)
#
# The formal single-outlier test over the daily-revenue series, per
# year: G = max_i |y_i − ȳ| / s. Complements f62's Tukey fences (rule
# of thumb) and g29's anomaly days with the studentized-deviate
# statistic itself. Arithmetic contract mirrors f98: the day grain is
# k$-quantized so the per-year moments (n, Σy, Σy²) are exact
# bigints, the deviation argmax |n·y − Σy| is an exact integer
# comparison (no float argmax), and the final G divides identically-
# derived doubles. The day-grain window for the arg-day is calendar-
# bounded (f48/f51/g28 contract). Engine extension.
# ---------------------------------------------------------------------------


@register(
    "f101_grubbs_outlier",
    oracle="""
WITH daily AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
         date_diff('day', DATE '1995-01-01', o_orderdate) AS d,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT)
           // 100000 AS y
  FROM orders GROUP BY 1, 2
), mom AS (
  SELECT yr, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(y * y) AS BIGINT) AS sy2
  FROM daily GROUP BY yr
), dev AS (
  SELECT daily.yr, d, y, n, sy, sy2,
         ABS(n * y - sy) AS adev,
         ROW_NUMBER() OVER (PARTITION BY daily.yr
                            ORDER BY ABS(n * y - sy) DESC, d) AS rn
  FROM daily JOIN mom ON mom.yr = daily.yr
)
SELECT yr, n AS n_days,
       ROUND(CAST(sy AS DOUBLE) / n, 6) AS mean_kusd,
       ROUND(SQRT(CAST(n * sy2 - sy * sy AS DOUBLE) / (n * (n - 1))), 6)
         AS sd_kusd,
       ROUND((CAST(adev AS DOUBLE) / n)
             / SQRT(CAST(n * sy2 - sy * sy AS DOUBLE) / (n * (n - 1))), 6)
         AS g_stat,
       CAST(d AS BIGINT) AS out_day,
       y AS out_rev_kusd
FROM dev WHERE rn = 1 ORDER BY yr
""",
    doc="Grubbs max-studentized-deviate per year over k$-quantized "
    "daily revenue: exact integer moments and an exact-integer "
    "deviation argmax on the bounded day grain; G divides "
    "identically-derived doubles.",
)
def f101_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cents = X.dec("o_totalprice") * 100
    daily = (
        o.groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("date")
            ).alias("d"),
        )
        .agg(F.sum(cents).cast("bigint").alias("yc"))
        .select("yr", "d", F.expr("yc div 100000").alias("y"))
    )
    mom = daily.groupBy("yr").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("sy2"),
    )
    # year moments are a bounded grain — broadcast back onto the days
    joined = daily.join(F.broadcast(mom), "yr")
    adev = F.abs(F.col("n") * F.col("y") - F.col("sy"))
    w = Window.partitionBy("yr").orderBy(F.desc("adev"), F.asc("d"))
    dev = joined.withColumn("adev", adev).withColumn(
        "rn", F.row_number().over(w)
    )
    var_n = (
        F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    ).cast("double")
    sd = F.sqrt(var_n / (F.col("n") * (F.col("n") - 1)))
    return (
        dev.filter(F.col("rn") == 1)
        .select(
            "yr",
            F.col("n").alias("n_days"),
            F.round(F.col("sy").cast("double") / F.col("n"), 6).alias(
                "mean_kusd"
            ),
            F.round(sd, 6).alias("sd_kusd"),
            F.round(
                (F.col("adev").cast("double") / F.col("n")) / sd, 6
            ).alias("g_stat"),
            F.col("d").cast("bigint").alias("out_day"),
            F.col("y").alias("out_rev_kusd"),
        )
        .orderBy("yr")
    )


# ---------------------------------------------------------------------------
# M20 — Benford first-digit audit (fabricated-amounts screen)
#
# The classic forensic-accounting check on the money column: the
# first significant digit of every order total against Benford's
# log10(1 + 1/d) law, with the chi-square distance. The digit is
# extracted from the EXACT integer cents as a string head (no float
# log), the nine Benford shares are host-computed literals injected
# into BOTH plans (zero libm dependence), and the chi-square folds
# 12dp-quantized terms over the 9-row digit grain under an exact
# decimal sum (g33 contract). One hash aggregate + a broadcast
# scalar; the digit grain is constant-bounded. Engine extension
# (reference anchor: the data-quality battery, core/etl_service.py).
# ---------------------------------------------------------------------------

_M20_BENFORD = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def _m20_oracle() -> str:
    vals = ", ".join(
        f"({d}, {p:.17g})" for d, p in _M20_BENFORD.items()
    )
    return f"""
WITH digits AS (
  SELECT CAST(SUBSTR(CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                          AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
), counts AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM digits GROUP BY digit
), tot AS (
  SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM counts
), terms AS (
  SELECT digit, n_obs, n, p,
         ROUND((CAST(n_obs AS DOUBLE) - n * p)
               * (CAST(n_obs AS DOUBLE) - n * p) / (n * p), 12) AS t
  FROM counts
  JOIN (VALUES {vals}) b(digit, p) USING (digit)
  CROSS JOIN tot
), chi AS (
  SELECT CAST(SUM(CAST(t AS DECIMAL(38,12))) AS DOUBLE) AS chi2 FROM terms
)
SELECT CAST(digit AS INT) AS digit, n_obs,
       ROUND(CAST(n_obs AS DOUBLE) / n, 6) AS share,
       ROUND(p, 6) AS benford_p,
       ROUND(CAST(n_obs AS DOUBLE) / n - p, 6) AS deviation,
       ROUND(chi2, 6) AS chi2_total
FROM terms CROSS JOIN chi ORDER BY digit
"""


@register(
    "m20_benford_audit",
    oracle=_m20_oracle(),
    doc="Benford's-law audit of order totals: first significant digit "
    "of the exact integer cents vs log10(1+1/d) (host-injected "
    "literals), per-digit share/deviation plus a 12dp-quantized "
    "chi-square fold over the constant 9-digit grain.",
)
def m20_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cents = (X.dec("o_totalprice") * 100).cast("bigint")
    digits = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    counts = digits.groupBy("digit").agg(
        F.count("*").cast("bigint").alias("n_obs")
    )
    bens = spark.createDataFrame(
        [(d, p) for d, p in _M20_BENFORD.items()], "digit int, p double"
    )
    tot = counts.agg(F.sum("n_obs").cast("bigint").alias("n"))
    obs = F.col("n_obs").cast("double")
    exp = F.col("n") * F.col("p")
    terms = (
        counts.join(F.broadcast(bens), "digit")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            "n",
            "p",
            F.round((obs - exp) * (obs - exp) / exp, 12).alias("t"),
        )
    )
    chi = terms.agg(
        F.sum(F.col("t").cast("decimal(38,12)"))
        .cast("double")
        .alias("chi2")
    )
    return (
        terms.crossJoin(F.broadcast(chi))
        .select(
            F.col("digit").cast("int").alias("digit"),
            "n_obs",
            F.round(obs / F.col("n"), 6).alias("share"),
            F.round(F.col("p"), 6).alias("benford_p"),
            F.round(obs / F.col("n") - F.col("p"), 6).alias("deviation"),
            F.round(F.col("chi2"), 6).alias("chi2_total"),
        )
        .orderBy("digit")
    )
