"""ETL write-semantics expressed as checkable queries (SURVEY.md §2.B/§2.C).

The load-path operators (upsert-by-PK, latest-file argmax, cleaning,
PHI hashing) are library code in ``operators/``; these registry entries
drive them over the synthetic tables so the driver's oracle can verify
their *semantics*, not just that they run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from calaveras_uniteus_etl_spark.functions.datetime_ext import epoch_us
from calaveras_uniteus_etl_spark.functions.hashing import salted_sha256
from calaveras_uniteus_etl_spark.plans.catalog import register
from calaveras_uniteus_etl_spark.plans.tables import table

# ---------------------------------------------------------------------------
# C2 — upsert by primary key as a window-based merge
#      (reference: core/database.py:366-465 — full-PK-pull + per-row UPDATE,
#       re-expressed as one ranked window over existing ∪ incoming; SURVEY
#       §7.3 semantics: within-batch keep-last, then last-write-wins merge)
# ---------------------------------------------------------------------------

_C2_ORACLE = """
WITH existing AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(16,4)) AS price
  FROM orders
),
incoming AS (
  SELECT o_orderkey, 'X' AS o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(3,2))
              AS DECIMAL(16,4)) AS price
  FROM orders WHERE o_orderkey % 10 = 0
),
merged AS (
  SELECT e.* FROM existing e
  LEFT JOIN incoming i ON e.o_orderkey = i.o_orderkey
  WHERE i.o_orderkey IS NULL
  UNION ALL
  SELECT * FROM incoming
)
SELECT o_orderstatus AS status, COUNT(*) AS cnt,
       CAST(CAST(SUM(price) AS DECIMAL(38,4)) AS DOUBLE) AS total_price
FROM merged GROUP BY o_orderstatus
"""


@register(
    "c2_upsert_merge",
    oracle=_C2_ORACLE,
    doc="Last-write-wins merge (one ranked window over existing ∪ incoming) replacing "
    "the reference's per-row UPDATE loop — the one physical strategy "
    "deliberately NOT imitated at scale.",
)
def c2_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.operators.upsert import merge_upsert

    # the 10% uplift stays in exact decimal arithmetic end-to-end —
    # dec(12,2) * dec(3,2) = dec(16,4), never rounded
    base = table(spark, sf_dir, "orders")
    existing = base.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").cast("decimal(16,4)").alias("price"),
    )
    incoming = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (
            F.col("o_totalprice").cast("decimal(12,2)")
            * F.lit("1.1").cast("decimal(3,2)")
        )
        .cast("decimal(16,4)")
        .alias("price"),
    )
    merged = merge_upsert(existing, incoming, keys=["o_orderkey"])
    return merged.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("cnt"),
        F.sum("price").cast("decimal(38,4)").cast("double").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# C4 — latest-per-group argmax (reference latest-file-only filter:
#      core/etl_service.py:1293-1306)
# ---------------------------------------------------------------------------


@register(
    "c4_latest_per_group",
    oracle="""
SELECT user_id, event_id AS latest_event_id, event_type AS latest_event_type
FROM (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           AS rn
  FROM events
) WHERE rn = 1
""",
    doc="Per-group argmax via window row_number (latest event per user).",
)
def c4_latest_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("event_type").alias("latest_event_type"),
        )
    )


# ---------------------------------------------------------------------------
# B3/B4 — cleaning transforms surfaced as a checkable projection
#         (reference: core/etl_service.py:690-718)
# ---------------------------------------------------------------------------


@register(
    "b_clean_normalize",
    oracle="""
SELECT doc_id,
       md5(trim(replace(replace(text, 'â€™', ''''), 'â€œ', '"'))) AS clean_md5,
       CASE WHEN trim(text) = '' OR lower(trim(text)) IN ('nan', 'null', 'none')
            THEN NULL ELSE length(trim(text)) END AS clean_len
FROM documents
""",
    doc="Whitespace trim + mojibake repair + null-sentinel normalization, "
    "verified byte-exactly via md5 of the cleaned text.",
)
def b_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from calaveras_uniteus_etl_spark.operators.cleaning import (
        normalize_sentinels_expr,
        repair_mojibake_expr,
    )

    d = table(spark, sf_dir, "documents")
    cleaned = F.trim(repair_mojibake_expr(F.col("text")))
    return d.select(
        "doc_id",
        F.md5(cleaned).alias("clean_md5"),
        F.length(normalize_sentinels_expr(cleaned)).alias("clean_len"),
    )


# ---------------------------------------------------------------------------
# B5 — salted-SHA-256 PHI hashing (reference: core/config.py:225-243)
# ---------------------------------------------------------------------------

_PHI_SALT = "pepper-42"


@register(
    "b5_phi_hash",
    oracle=f"""
SELECT c_custkey,
       CASE WHEN c_name IS NULL OR c_name = '' OR lower(c_name) = 'nan'
            THEN c_name
            ELSE sha256('{_PHI_SALT}' || c_name || '{_PHI_SALT}') END AS name_hash
FROM customer
""",
    doc="PHI hashing as pure built-ins: sha256(salt || value || salt) with "
    "the reference's null/empty/'nan' skip rules — zero Python UDFs.",
)
def b5_phi_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.select("c_custkey", salted_sha256("c_name", _PHI_SALT).alias("name_hash"))


# ---------------------------------------------------------------------------
# C7 — SCD2 history reconstruction from a change log
#
# The warehouse-side extension of C2/C4: instead of keeping only the
# latest row per key (upsert) the dimension keeps every version with
# a validity interval. Events are treated as the change log; LEAD over
# (PARTITION BY key ORDER BY ts, event_id) closes each version at the
# next change (NULL = current). One hash-shuffle on the key, interval
# arithmetic in integer microseconds — no driver-side loop, no second
# pass. Output restricted to a deterministic 2% key sample (user_id
# mod 50) purely to bound the compared relation — and because the
# sample predicate is on the window's partition key, Catalyst pushes
# it below the Window to the scan, so only sampled keys shuffle.
# ---------------------------------------------------------------------------


@register(
    "c7_scd2_intervals",
    oracle="""
WITH log AS (
  SELECT user_id, event_id, event_type,
         epoch_us(ts) AS valid_from_us,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS valid_to_us
  FROM events
)
SELECT user_id, event_id, event_type, valid_from_us, valid_to_us,
       CAST(valid_to_us IS NULL AS BOOLEAN) AS is_current
FROM log
WHERE user_id % 50 = 0
""",
    doc="SCD2 validity intervals from a change log: LEAD window closes "
    "each version at the next change per key; NULL valid_to marks the "
    "current row.",
)
def c7_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    log = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_id", "event_type", "ts")
        .withColumn("valid_from_us", epoch_us("ts"))
        .withColumn("valid_to_us", F.lead(epoch_us("ts")).over(w))
    )
    return (
        log.filter(F.col("user_id") % 50 == 0)
        .select(
            "user_id",
            "event_id",
            "event_type",
            "valid_from_us",
            "valid_to_us",
            F.col("valid_to_us").isNull().alias("is_current"),
        )
    )


# ---------------------------------------------------------------------------
# C8 — incremental aggregate maintenance (partial-state merge)
#
# The batch form of what Structured Streaming does per micro-batch and
# the contract behind any materialized daily-rollup table: partial
# aggregates computed per ingest slice must MERGE to exactly the
# full-recompute answer. Counts and decimal sums are associative, so
# the slice grain (here: per calendar day, the ETL's natural load
# unit) never changes the result. The query computes per-slice
# partials, merges them, and — because the oracle is the direct
# one-pass aggregate — the driver's hash check IS the proof that
# incremental == full.
# ---------------------------------------------------------------------------


@register(
    "c8_incremental_agg_merge",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6))
            AS DOUBLE) AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY event_type
""",
    doc="Materialized-rollup maintenance: per-day partial aggregates "
    "merged to the exact full-recompute answer (count/sum merge by "
    "re-aggregation; distinct via per-slice key sets re-distincted).",
)
def c8_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    slice_key = F.to_date("ts").alias("_slice")
    # stage 1: what each daily load would persist to the rollup table
    partials = e.groupBy(slice_key, "event_type").agg(
        F.count("*").alias("pn"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("pv"),
    )
    # distinct users can't merge from counts — the rollup persists the
    # per-slice key set (bounded by |users| per day), merged by
    # re-distincting, exactly like a streaming state store would
    user_sets = e.select(slice_key, "event_type", "user_id").distinct()
    merged = partials.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.sum("pv").cast("decimal(38,6)").cast("double").alias("sum_value"),
    )
    users = user_sets.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    return merged.join(users, "event_type").select(
        "event_type", "n_events", "sum_value", "n_users"
    )


# ---------------------------------------------------------------------------
# C9 — snapshot diff (warehouse reconciliation)
#
# The operational twin of the merge upsert: given yesterday's and
# today's snapshot of a table, report what was added / removed /
# changed / unchanged. One full-outer join on the primary key; the
# change test compares the business columns directly (never a
# stringified row hash — float formatting differs across engines).
# Snapshots are carved deterministically out of orders so the oracle
# sees the same inputs: snapshot A drops keys ≡0 (mod 101), snapshot B
# drops keys ≡0 (mod 103) and reprices keys ≡0 (mod 7).
# ---------------------------------------------------------------------------


@register(
    "c9_snapshot_diff",
    oracle="""
WITH snap_a AS (
  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS price
  FROM orders WHERE o_orderkey % 101 <> 0
), snap_b AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END
           AS price
  FROM orders WHERE o_orderkey % 103 <> 0
), diff AS (
  SELECT CASE
           WHEN a.k IS NULL THEN 'added'
           WHEN b.k IS NULL THEN 'removed'
           WHEN a.st <> b.st OR a.price <> b.price THEN 'changed'
           ELSE 'unchanged' END AS status
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.k = b.k
)
SELECT status, COUNT(*) AS n_rows
FROM diff GROUP BY status ORDER BY status
""",
    doc="Snapshot reconciliation: full-outer join of two table "
    "versions on the primary key, per-row added/removed/changed/"
    "unchanged classification, one-shuffle rollup.",
)
def c9_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.col("o_totalprice").alias("price"),
    )
    snap_a = o.filter(F.col("k") % 101 != 0)
    snap_b = o.filter(F.col("k") % 103 != 0).withColumn(
        "price",
        F.when(F.col("k") % 7 == 0, F.col("price") * 2).otherwise(F.col("price")),
    )
    a, b = snap_a.alias("a"), snap_b.alias("b")
    status = (
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .when(
            (F.col("a.st") != F.col("b.st"))
            | (F.col("a.price") != F.col("b.price")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        a.join(b, F.col("a.k") == F.col("b.k"), "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# C10 — CDC apply (ordered change log → current table state)
#
# c2's upsert has no DELETE; a Debezium-style change-data-capture feed
# does. This operator folds an ordered I/U/D log into current state:
# per key, the HIGHEST-LSN record wins wholesale, and a winning D
# erases the key. The events stream stands in as the log: per user,
# ops in (ts, event_id) order — signup=I, click/view/purchase=U,
# error=D — so the result is each user's live profile (or absence).
# Reported as per-op-outcome counts plus survivor value stats so the
# whole state hashes into a few rows.
#
# Scale shape: one argmax window partitioned by key (the CDC apply is
# ALWAYS key-partitioned — this is the merge loop every lakehouse
# MERGE INTO runs under the hood), then a single aggregate. Nothing
# driver-side, no ordering beyond the per-key sort.
# ---------------------------------------------------------------------------


@register(
    "c10_cdc_apply",
    oracle="""
WITH log AS (
  SELECT user_id AS k, ts, event_id AS lsn, value,
         CASE event_type WHEN 'signup' THEN 'I'
                         WHEN 'error' THEN 'D' ELSE 'U' END AS op
  FROM events
), latest AS (
  SELECT k, op, value FROM (
    SELECT k, op, value,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, lsn DESC) AS rn
    FROM log
  ) WHERE rn = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys_seen,
       CAST(SUM(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS live_keys,
       CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS deleted_keys,
       CAST(CAST(SUM(CASE WHEN op <> 'D'
                     THEN CAST(value AS DECIMAL(18,6)) END)
            AS DECIMAL(38,6)) AS DOUBLE) AS live_value_sum
FROM latest
""",
    doc="CDC apply: fold an ordered I/U/D change log (events as the "
    "feed; error=delete) into current state via per-key argmax — "
    "last record wins wholesale, a winning delete erases the key. "
    "The missing DELETE semantics of the c2 upsert family.",
)
def c10_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        "ts",
        F.col("event_id").alias("lsn"),
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    w = Window.partitionBy("k").orderBy(F.desc("ts"), F.desc("lsn"))
    latest = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "op", "value")
    )
    live = F.col("op") != "D"
    return latest.agg(
        F.count("*").cast("bigint").alias("n_keys_seen"),
        F.sum(F.when(live, 1).otherwise(0)).cast("bigint").alias("live_keys"),
        F.sum(F.when(~live, 1).otherwise(0)).cast("bigint").alias("deleted_keys"),
        F.sum(F.when(live, F.col("value").cast("decimal(18,6)")))
        .cast("decimal(38,6)")
        .cast("double")
        .alias("live_value_sum"),
    )


# ---------------------------------------------------------------------------
# C11 — incremental maintenance of a JOIN view (delta-join algebra)
#
# c8 maintains an AGGREGATE view from deltas; this maintains a JOIN
# view — the other half of incremental view maintenance (Blakeley et
# al., SIGMOD 1986). For V = A ⋈ B and inserts ΔA, ΔB:
#
#     ΔV = (ΔA ⋈ B_old) ∪ (A_old ⋈ ΔB) ∪ (ΔA ⋈ ΔB)
#
# The engine partitions orders/lineitem into "old" and "delta" slices
# by a deterministic key predicate (orderkey mod), computes the three
# delta joins, unions them with the old view, and aggregates per
# order priority. The oracle aggregates the FULL join directly — the
# hash match proves the delta algebra reconstitutes the total view
# exactly (no dropped term, no double count).
#
# Scale: this is the plan an incremental warehouse runs every batch —
# the three delta joins touch |Δ|-proportional data on the delta
# sides; the old view's contribution arrives pre-aggregated (c8's
# merge would consume it), so only the join keys of the old slices
# rescan here. Delta sides are broadcast when dim-sized in production;
# at the check SF the slices are comparable so the equi-joins shuffle.
# ---------------------------------------------------------------------------


@register(
    "c11_delta_join_view",
    oracle="""
SELECT o.o_orderpriority AS priority,
       COUNT(*) AS n_lines,
       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l.l_discount AS DECIMAL(6,4))))
                 AS DECIMAL(38,6)) AS DOUBLE) AS revenue
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
ORDER BY priority
""",
    doc="Incremental JOIN-view maintenance: orders/lineitem split into "
    "old/delta slices by key predicate, view rebuilt as old ⋈ old "
    "plus the three delta-join terms (ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB); "
    "the oracle computes the full join directly, so the hash match "
    "proves the delta algebra loses nothing and double-counts "
    "nothing.",
)
def c11_delta_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(6,4)"))
        ).alias("rev"),
    )
    o_old = o.filter(F.col("o_orderkey") % 10 != 0)
    o_new = o.filter(F.col("o_orderkey") % 10 == 0)
    l_old = l.filter(F.col("l_orderkey") % 7 != 0)
    l_new = l.filter(F.col("l_orderkey") % 7 == 0)

    def j(orders, lines):
        return orders.join(
            lines, lines["l_orderkey"] == orders["o_orderkey"]
        ).select("o_orderpriority", "rev")

    view = (
        j(o_old, l_old)  # V_old
        .unionAll(j(o_new, l_old))  # ΔA ⋈ B_old
        .unionAll(j(o_old, l_new))  # A_old ⋈ ΔB
        .unionAll(j(o_new, l_new))  # ΔA ⋈ ΔB
    )
    return (
        view.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("rev").cast("decimal(38,6)").cast("double").alias("revenue"),
        )
        .orderBy("priority")
    )
