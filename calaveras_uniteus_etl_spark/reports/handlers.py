"""Healthcare report handlers: the reference's analytics endpoints as
DataFrame-returning functions.

Each function mirrors one reference endpoint's query semantics
(citations inline) over the warehouse tables, parameterized by
``ReportFilters`` and an injectable ``as_of`` timestamp. The
synthetic-table operator patterns in ``plans/queries_*`` prove each
underlying operator against the DuckDB oracle; these handlers compose
the same operators over the healthcare schema and are covered by
fixture tests (tests/test_reports.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from calaveras_uniteus_etl_spark.functions.datetime_ext import (
    julian_day_diff,
    sqlite_week,
    to_day,
    to_month,
)
from calaveras_uniteus_etl_spark.reports.filters import (
    ReportFilters,
    apply_date_range,
    apply_facets,
    apply_report_filters,
    demographics_base,
)

NOT_SPECIFIED = "Not Specified"


# --- summary counts (reference core/reports/handlers.py:25-74) -------------


def summary_counts(
    people: DataFrame, cases: DataFrame, referrals: DataFrame, ar: DataFrame,
    f: ReportFilters = ReportFilters(),
) -> DataFrame:
    """The four counts from one aggregate over a union of the inputs,
    each row tagged with its side, so all four scans share one stage."""
    sides = {
        "total_people": people,
        "total_cases": apply_report_filters(cases, "cases", f),
        "total_referrals": apply_report_filters(referrals, "referrals", f),
        "total_assistance_requests": ar,
    }
    tagged = [df.select(F.lit(name).alias("side")) for name, df in sides.items()]
    return (
        reduce(DataFrame.unionAll, tagged)
        .agg(*[F.count(F.when(F.col("side") == n, 1)).alias(n) for n in sides])
    )


# --- gender / race / language distributions (handlers.py:302-383) ----------


def demographic_distribution(
    people: DataFrame, cases: DataFrame, column: str, f: ReportFilters = ReportFilters()
) -> DataFrame:
    """COALESCE(col,'Not Specified') GROUP BY ORDER BY count DESC; with a
    date filter the base switches to the joined COUNT(DISTINCT) path."""
    base, distinct = demographics_base(people, cases, f)
    counter = F.countDistinct("person_id") if distinct else F.count("*")
    return (
        base.groupBy(F.coalesce(F.col(column), F.lit(NOT_SPECIFIED)).alias(column))
        .agg(counter.alias("count"))
        .orderBy(F.desc("count"), F.asc(column))
    )


# --- age brackets (handlers.py:235-300) -------------------------------------

_AGE_BUCKETS = ((0, 17, "0-17"), (18, 24, "18-24"), (25, 34, "25-34"),
                (35, 44, "35-44"), (45, 54, "45-54"), (55, 64, "55-64"))


def age_distribution(
    people: DataFrame, cases: DataFrame, as_of: str, f: ReportFilters = ReportFilters()
) -> DataFrame:
    """CASE-bucketed age histogram with custom bucket ordering
    (julianday('now') made injectable via as_of)."""
    base, distinct = demographics_base(people, cases, f)
    age = F.floor(
        (F.lit(as_of).cast("timestamp").cast("double")
         - F.col("date_of_birth").cast("timestamp").cast("double"))
        / F.lit(86400.0 * 365.25)
    )
    bucket = F.lit("65+")
    order = F.lit(len(_AGE_BUCKETS) + 1)
    for i, (lo, hi, label) in reversed(list(enumerate(_AGE_BUCKETS, start=1))):
        bucket = F.when((age >= lo) & (age <= hi), label).otherwise(bucket)
        order = F.when((age >= lo) & (age <= hi), i).otherwise(order)
    counter = F.countDistinct("person_id") if distinct else F.count("*")
    return (
        base.filter(F.col("date_of_birth").isNotNull())
        .groupBy(bucket.alias("age_bracket"))
        .agg(F.min(order).alias("bucket_order"), counter.alias("count"))
        .orderBy("bucket_order")
    )


# --- income brackets (handlers.py:491-561) ----------------------------------


def income_distribution(people: DataFrame) -> DataFrame:
    """SQLite CAST parity: unparseable income behaves as 0 via
    coalesce(try_cast, 0) (SURVEY §7.3 trap #2)."""
    income = F.coalesce(F.col("gross_monthly_income").try_cast("double"), F.lit(0.0))
    bucket = (
        F.when(income <= 0, "No Income")
        .when(income < 1000, "$1-999")
        .when(income < 2500, "$1,000-2,499")
        .when(income < 5000, "$2,500-4,999")
        .otherwise("$5,000+")
    )
    order = (
        F.when(income <= 0, 1).when(income < 1000, 2).when(income < 2500, 3)
        .when(income < 5000, 4).otherwise(5)
    )
    return (
        people.groupBy(bucket.alias("income_bracket"))
        .agg(F.min(order).alias("bucket_order"), F.count("*").alias("count"))
        .orderBy("bucket_order")
    )


# --- status / service distributions with top-k (handlers.py:84-151) --------


def status_distribution(df: DataFrame, table: str, f: ReportFilters = ReportFilters()) -> DataFrame:
    col = "referral_status" if table == "referrals" else "case_status"
    return (
        apply_report_filters(df, table, f)
        .groupBy(F.coalesce(F.col(col), F.lit("Unknown")).alias("status"))
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("status"))
    )


def top_service_types(df: DataFrame, table: str, n: int = 10, f: ReportFilters = ReportFilters()) -> DataFrame:
    return (
        apply_report_filters(df, table, f)
        .filter(F.col("service_type").isNotNull())
        .groupBy("service_type")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), F.asc("service_type"))
        .limit(n)
    )


# --- time series (core/app.py:2759-2810, 3410-3484) -------------------------


def timeline(df: DataFrame, date_col: str, grouping: str = "day", by_status: str | None = None) -> DataFrame:
    """Period bucketing: day / SQLite-week / month (F9 patterns)."""
    period = {"day": to_day, "week": sqlite_week, "month": to_month}[grouping](date_col)
    keys = [period.alias("period")]
    if by_status:
        keys.append(F.coalesce(F.col(by_status), F.lit("Unknown")).alias("status"))
    return (
        df.filter(F.col(date_col).isNotNull())
        .groupBy(*keys)
        .agg(F.count("*").alias("count"))
        .orderBy("period")
    )


# --- resolution time (core/app.py:3096-3139) ---------------------------------


def resolution_time_by_service(cases: DataFrame, f: ReportFilters = ReportFilters()) -> DataFrame:
    gap = julian_day_diff("case_closed_at", "case_created_at")
    return (
        apply_report_filters(cases, "cases", f)
        .filter(F.col("case_closed_at").isNotNull() & F.col("case_created_at").isNotNull())
        .groupBy(F.coalesce("service_type", F.lit("Unknown")).alias("service_type"))
        .agg(
            F.round(F.sum(gap) / F.count("*"), 1).alias("avg_days"),
            F.round(F.min(gap), 1).alias("min_days"),
            F.round(F.max(gap), 1).alias("max_days"),
            F.count("*").alias("resolved_cases"),
        )
        .orderBy(F.desc("resolved_cases"), F.asc("service_type"))
    )


# --- network edges (core/app.py:3198-3211, 4499-4517) ------------------------


def provider_network_edges(referrals: DataFrame, n: int = 50, f: ReportFilters = ReportFilters()) -> DataFrame:
    """Directed provider pairs, self-edges excluded (E8 pattern)."""
    return (
        apply_report_filters(referrals, "referrals", f)
        .filter(
            F.col("sending_provider_name").isNotNull()
            & F.col("receiving_provider_name").isNotNull()
            & (F.col("sending_provider_name") != F.col("receiving_provider_name"))
        )
        .groupBy("sending_provider_name", "receiving_provider_name")
        .agg(
            F.count("*").alias("referral_count"),
            F.avg(
                F.when(
                    F.col("referral_status").isin("accepted", "completed"), 1.0
                ).otherwise(0.0)
            ).alias("acceptance_rate"),
        )
        .orderBy(F.desc("referral_count"), "sending_provider_name", "receiving_provider_name")
        .limit(n)
    )


# --- cohort retention (core/app.py:3939-4007) --------------------------------


def cohort_retention(cases: DataFrame) -> DataFrame:
    first = cases.groupBy("person_id").agg(F.min("case_created_at").alias("first_date"))
    j = first.join(cases, "person_id")
    returned_key = F.when(
        to_month("case_created_at") != to_month("first_date"), F.col("person_id")
    )
    size = F.countDistinct("person_id")
    returned = F.countDistinct(returned_key)
    return (
        j.groupBy(to_month("first_date").alias("cohort"))
        .agg(
            size.alias("cohort_size"),
            returned.alias("returned"),
            F.round(100.0 * returned / F.nullif(size, F.lit(0)), 1).alias("retention_pct"),
        )
        .orderBy("cohort")
    )


# --- geographic distribution (core/app.py:3229-3284) -------------------------


def cases_by_location(
    people: DataFrame, cases: DataFrame, n: int = 15, f: ReportFilters = ReportFilters()
) -> DataFrame:
    """Case counts by city/county/state: people⋈cases with the date
    filter on case_updated_at, non-null city only, top-n by COUNT
    (DISTINCT case_id). (Reference reads the
    current_person_address_* columns; this schema's short names map
    1:1 — schema.py PEOPLE.)"""
    gated = apply_report_filters(cases, "cases", f).select("person_id", "case_id")
    return (
        people.filter(F.col("city").isNotNull())
        .join(gated, "person_id")
        .groupBy("city", "county", "state")
        .agg(F.countDistinct("case_id").alias("case_count"))
        .orderBy(F.desc("case_count"), "city", "county", "state")
        .limit(n)
    )


# --- household-size scatter (core/app.py:4446-4463) --------------------------

def household_scatter(
    people: DataFrame, cases: DataFrame, f: ReportFilters = ReportFilters()
) -> DataFrame:
    """Case/client counts per household-size category (CASE bucket on
    people.household_size; cases LEFT JOIN people keeps cases whose
    person is missing → NULL → 'Unknown')."""
    hh = F.col("household_size")
    buckets = (
        (hh.isNull(), "Unknown"),
        (hh == 1, "1 person"),
        (hh.between(2, 3), "2-3 people"),
        (hh.between(4, 5), "4-5 people"),
    )
    bucket = F.lit("6+ people")
    for cond, label in reversed(buckets):
        bucket = F.when(cond, label).otherwise(bucket)
    return (
        apply_report_filters(cases, "cases", f)
        .join(people.select("person_id", "household_size"), "person_id", "left")
        .groupBy(bucket.alias("household_category"))
        .agg(
            F.countDistinct("case_id").alias("case_count"),
            F.countDistinct("person_id").alias("client_count"),
        )
        .orderBy(F.desc("case_count"), "household_category")
    )


# --- client touchpoints (core/app.py:3537-3596) ------------------------------


def _per_person_counts(
    people: DataFrame, cases: DataFrame, referrals: DataFrame, ar: DataFrame
) -> DataFrame:
    """people LEFT JOIN three pre-aggregated per-person counters —
    the three GROUP BYs shuffle small (person_id, count) pairs, never
    full payload rows, and join back onto the people spine."""

    def counts(df: DataFrame, alias: str) -> DataFrame:
        return df.groupBy("person_id").agg(F.count("*").alias(alias))

    return (
        people.select("person_id")
        .join(counts(cases, "case_count"), "person_id", "left")
        .join(counts(referrals, "referral_count"), "person_id", "left")
        .join(counts(ar, "ar_count"), "person_id", "left")
    )


def touchpoint_averages(
    people: DataFrame, cases: DataFrame, referrals: DataFrame, ar: DataFrame
) -> DataFrame:
    """Single-row engagement summary: AVG skips the NULLs the LEFT
    JOINs introduce — per-source averages are over clients having that
    source, exactly the reference's semantics."""
    return _per_person_counts(people, cases, referrals, ar).agg(
        F.countDistinct("person_id").alias("total_clients"),
        F.avg("case_count").alias("avg_cases_per_client"),
        F.avg("referral_count").alias("avg_referrals_per_client"),
        F.avg("ar_count").alias("avg_assistance_requests_per_client"),
    )


_TOUCHPOINT_RANGES = (
    (1, 1, "1", 1),
    (2, 3, "2-3", 2),
    (4, 6, "4-6", 3),
    (7, 10, "7-10", 4),
)


def touchpoint_distribution(
    people: DataFrame, cases: DataFrame, referrals: DataFrame, ar: DataFrame
) -> DataFrame:
    """Histogram of total touchpoints (cases+referrals+ARs) per client.
    Zero-touchpoint clients fall outside every range (CASE with no
    ELSE in the reference) and surface as a NULL-range row."""
    total = (
        F.coalesce("case_count", F.lit(0))
        + F.coalesce("referral_count", F.lit(0))
        + F.coalesce("ar_count", F.lit(0))
    )
    bucket = F.when(total > 10, "10+")
    order = F.when(total > 10, 5)
    for lo, hi, label, pos in _TOUCHPOINT_RANGES:
        bucket = F.when(total.between(lo, hi), label).otherwise(bucket)
        order = F.when(total.between(lo, hi), pos).otherwise(order)
    return (
        _per_person_counts(people, cases, referrals, ar)
        .groupBy(bucket.alias("touchpoint_range"))
        .agg(F.min(order).alias("bucket_order"), F.count("*").alias("client_count"))
        .orderBy(F.asc_nulls_last("bucket_order"))
    )


# --- service pathways (core/app.py:4027-4056) --------------------------------


def service_pathways(
    cases: DataFrame,
    referrals: DataFrame,
    n: int = 20,
    min_count: int = 2,
    f: ReportFilters = ReportFilters(),
) -> DataFrame:
    """initial service → referred service transition edges: cases ⋈
    referrals on case_id, referral strictly after case creation,
    HAVING count ≥ min_count, avg day-gap, top-n."""
    c = apply_report_filters(cases, "cases", f).select(
        "case_id",
        F.col("service_type").alias("initial_service"),
        "case_created_at",
    )
    r = referrals.select(
        "case_id",
        F.col("service_type").alias("referral_service"),
        "referral_created_at",
    )
    gap = julian_day_diff("referral_created_at", "case_created_at")
    return (
        c.filter(F.col("initial_service").isNotNull())
        .join(r.filter(F.col("referral_service").isNotNull()), "case_id")
        .filter(F.col("referral_created_at") > F.col("case_created_at"))
        .groupBy("initial_service", "referral_service")
        .agg(
            F.count("*").alias("pathway_count"),
            F.round(F.sum(gap) / F.count("*"), 1).alias("avg_days_between"),
        )
        .filter(F.col("pathway_count") >= min_count)
        .orderBy(F.desc("pathway_count"), "initial_service", "referral_service")
        .limit(n)
    )


# --- referral funnel (core/reports/router.py:512-608) ------------------------


def referral_funnel(referrals: DataFrame, f: ReportFilters = ReportFilters()) -> DataFrame:
    r = apply_report_filters(referrals, "referrals", f)

    def stage(col: str):
        return F.count(F.when(F.col(col).isNotNull(), 1))

    total = F.count("*")
    return r.agg(
        total.alias("created"),
        stage("sent_at").alias("sent"),
        stage("accepted_at").alias("accepted"),
        stage("completed_at").alias("completed"),
        F.round(
            stage("completed_at") * 100.0 / F.nullif(total, F.lit(0)), 1
        ).alias("completion_pct"),
    )


# --- referral conversion rates (core/app.py:3142-3186) -----------------------


def referral_conversion_rates(
    referrals: DataFrame, f: ReportFilters = ReportFilters(),
    min_total: int = 5, n: int = 10,
) -> DataFrame:
    """Acceptance/decline/pending split + acceptance rate per service
    type; HAVING total >= min_total, top-n by volume."""
    accepted = F.sum(F.when(F.col("referral_status") == "accepted", 1).otherwise(0))
    declined = F.sum(F.when(F.col("referral_status") == "declined", 1).otherwise(0))
    pending = F.sum(
        F.when(F.col("referral_status").isin("pending", "off_platform"), 1).otherwise(0)
    )
    total = F.count("*")
    return (
        apply_report_filters(referrals, "referrals", f)
        .filter(F.col("service_type").isNotNull())
        .groupBy("service_type")
        .agg(
            total.alias("total_referrals"),
            accepted.alias("accepted"),
            declined.alias("declined"),
            pending.alias("pending"),
            F.round(accepted * 100.0 / F.nullif(total, F.lit(0)), 1).alias(
                "acceptance_rate"
            ),
        )
        .filter(F.col("total_referrals") >= min_total)
        .orderBy(F.desc("total_referrals"), "service_type")
        .limit(n)
    )


# --- case outcomes (core/app.py:2853-2888) -----------------------------------


def case_outcomes(cases: DataFrame, f: ReportFilters = ReportFilters()) -> DataFrame:
    """Counts per outcome resolution type (schema column ``outcome``,
    reference outcome_resolution_type, database_schema.py:153)."""
    return (
        apply_report_filters(cases, "cases", f)
        .filter(F.col("outcome").isNotNull())
        .groupBy(F.col("outcome").alias("resolution_type"))
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), "resolution_type")
    )


# --- provider performance (core/app.py:4211-4288) ----------------------------


def provider_performance(
    cases: DataFrame, f: ReportFilters = ReportFilters(),
    min_cases: int = 5, n: int = 20,
) -> DataFrame:
    """Per-provider caseload + status split + resolution-day stats.

    COUNT(DISTINCT CASE WHEN ...) statuses mirror the reference's
    bucket lists; completion rate = closed/total. The per-group
    multi-distinct is the E4/F2 Expand shape — one shuffle however
    many providers exist."""
    gap = julian_day_diff("case_closed_at", "case_created_at")
    closed_gap = F.when(F.col("case_closed_at").isNotNull(), gap)
    active = F.countDistinct(
        F.when(
            F.col("case_status").isin("active", "open", "in_progress"),
            F.col("case_id"),
        )
    )
    pending = F.countDistinct(
        F.when(
            F.col("case_status").isin("pending", "awaiting", "new"), F.col("case_id")
        )
    )
    closed = F.countDistinct(
        F.when(F.col("case_status").isin("completed", "closed"), F.col("case_id"))
    )
    total = F.countDistinct("case_id")
    return (
        apply_report_filters(cases, "cases", f)
        .filter(
            F.col("case_created_at").isNotNull() & F.col("provider_name").isNotNull()
        )
        .groupBy(F.col("provider_name").alias("provider"))
        .agg(
            total.alias("total_cases"),
            F.countDistinct("person_id").alias("unique_clients"),
            active.alias("active_cases"),
            pending.alias("pending_cases"),
            closed.alias("closed_cases"),
            F.round(F.avg(closed_gap), 1).alias("avg_days"),
            F.round(F.min(closed_gap), 1).alias("min_days"),
            F.round(F.max(closed_gap), 1).alias("max_days"),
            F.round(
                closed * 100.0 / F.nullif(total, F.lit(0)), 1
            ).alias("completion_rate"),
        )
        .filter(F.col("total_cases") >= min_cases)
        .orderBy(F.desc("total_cases"), F.asc("avg_days"), "provider")
        .limit(n)
    )


# --- high-risk drop-off analysis (core/app.py:4347-4393) ---------------------


def high_risk_drop_off(
    referrals: DataFrame, f: ReportFilters = ReportFilters(),
    min_total: int = 5, n: int = 10,
) -> DataFrame:
    """Service types ranked by drop-off (declined/rejected/off_platform)
    rate; HAVING total >= min_total, top-n by rate."""
    dropped = F.sum(
        F.when(
            F.col("referral_status").isin("declined", "rejected", "off_platform"), 1
        ).otherwise(0)
    )
    total = F.count("*")
    return (
        apply_report_filters(referrals, "referrals", f)
        .filter(
            F.col("referral_created_at").isNotNull()
            & F.col("service_type").isNotNull()
        )
        .groupBy("service_type")
        .agg(
            total.alias("total_referrals"),
            F.round(dropped * 100.0 / F.nullif(total, F.lit(0)), 1).alias(
                "drop_off_rate"
            ),
        )
        .filter(F.col("total_referrals") >= min_total)
        .orderBy(F.desc("drop_off_rate"), F.desc("total_referrals"), "service_type")
        .limit(n)
    )


# --- top sending / receiving providers (core/app.py:2693-2757) ---------------


def top_providers(
    referrals: DataFrame, direction: str = "sending", n: int = 10,
    f: ReportFilters = ReportFilters(),
) -> DataFrame:
    """Top-n providers by referral volume, from either end of the edge
    (the reference exposes two endpoints; one parameter here)."""
    col = {"sending": "sending_provider_name",
           "receiving": "receiving_provider_name"}[direction]
    return (
        apply_report_filters(referrals, "referrals", f)
        .filter(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("provider"))
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), "provider")
        .limit(n)
    )


# --- top programs with acceptance rates (core/app.py:2813-2852) --------------


def top_programs(
    referrals: DataFrame, n: int = 15, f: ReportFilters = ReportFilters()
) -> DataFrame:
    accepted = F.sum(
        F.when(F.col("referral_status") == "accepted", 1).otherwise(0)
    )
    total = F.count("*")
    return (
        apply_report_filters(referrals, "referrals", f)
        .filter(F.col("receiving_program_name").isNotNull())
        .groupBy(F.col("receiving_program_name").alias("program_name"))
        .agg(
            total.alias("total_referrals"),
            accepted.alias("accepted_referrals"),
            F.round(
                accepted * 100.0 / F.nullif(total, F.lit(0)), 1
            ).alias("acceptance_rate"),
        )
        .orderBy(F.desc("total_referrals"), "program_name")
        .limit(n)
    )


# --- veteran / military services (core/app.py:3287-3341) ---------------------


def veteran_services(
    ar: DataFrame, dimension: str = "affiliation",
    f: ReportFilters = ReportFilters(),
) -> DataFrame:
    """Assistance-request counts by military affiliation or branch;
    blank strings excluded like the reference's ``!= ''`` guard."""
    col = {"affiliation": "mil_affiliation", "branch": "mil_branch"}[dimension]
    return (
        apply_report_filters(ar, "assistance_requests", f)
        .filter(F.col(col).isNotNull() & (F.col(col) != ""))
        .groupBy(F.col(col).alias(dimension))
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), dimension)
    )


# --- service subtype breakdown (core/app.py:3487-3527) -----------------------


def service_subtypes(
    cases: DataFrame, n: int = 25, f: ReportFilters = ReportFilters()
) -> DataFrame:
    return (
        apply_report_filters(cases, "cases", f)
        .filter(
            F.col("service_type").isNotNull()
            & F.col("service_subtype").isNotNull()
        )
        .groupBy("service_type", "service_subtype")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), "service_type", "service_subtype")
        .limit(n)
    )


# --- outcome metrics (core/app.py:4062-4129) ---------------------------------
# This endpoint family date-filters on case_created_at (not the
# case_updated_at the shared filter map uses), so the range is applied
# directly here.


def _outcome_base(cases: DataFrame, f: ReportFilters) -> DataFrame:
    base = cases.filter(F.col("case_created_at").isNotNull())
    if f.has_date:
        base = apply_date_range(base, "case_created_at", f)
    return apply_facets(base, f, "cases")


def outcome_distribution(
    cases: DataFrame, f: ReportFilters = ReportFilters()
) -> DataFrame:
    """Unlike case_outcomes (which drops NULLs), this surfaces
    unrecorded outcomes as a 'Not Recorded' row."""
    return (
        _outcome_base(cases, f)
        .groupBy(
            F.coalesce(F.col("outcome"), F.lit("Not Recorded")).alias(
                "resolution_type"
            )
        )
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"), "resolution_type")
    )


def time_to_resolution(
    cases: DataFrame, n: int = 10, f: ReportFilters = ReportFilters()
) -> DataFrame:
    gap = julian_day_diff("case_closed_at", "case_created_at")
    return (
        _outcome_base(cases, f)
        .filter(
            F.col("case_closed_at").isNotNull()
            & F.col("service_type").isNotNull()
        )
        .groupBy("service_type")
        .agg(
            F.round(F.sum(gap) / F.count("*"), 1).alias("avg_days_to_close"),
            F.count("*").alias("closed_count"),
        )
        .orderBy(F.desc("closed_count"), "service_type")
        .limit(n)
    )


# --- client risk factors: housing impact (core/app.py:4394-4427) -------------


def housing_impact(
    cases: DataFrame, ar: DataFrame, n: int = 10,
    f: ReportFilters = ReportFilters(),
) -> DataFrame:
    """Case volume and resolution speed per housing status. LEFT JOIN
    keeps cases with no assistance request ('Not Specified'); the AVG
    only sees closed cases (CASE WHEN gives NULL otherwise)."""
    gap = julian_day_diff("case_closed_at", "case_created_at")
    closed_gap = F.when(F.col("case_closed_at").isNotNull(), gap)
    return (
        _outcome_base(cases, f)
        .join(
            ar.select("case_id", "housing_current_status"), "case_id", "left"
        )
        .groupBy(
            F.coalesce(
                F.col("housing_current_status"), F.lit(NOT_SPECIFIED)
            ).alias("housing_status")
        )
        .agg(
            F.countDistinct("case_id").alias("case_count"),
            F.round(F.avg(closed_gap), 1).alias("avg_resolution_days"),
        )
        .orderBy(F.desc("case_count"), "housing_status")
        .limit(n)
    )


# --- demographic correlations (core/app.py:4621-4712) ------------------------

_CORR_AGE_BUCKETS = ((0, 17, "Under 18"), (18, 24, "18-24"), (25, 34, "25-34"),
                     (35, 44, "35-44"), (45, 54, "45-54"), (55, 64, "55-64"))


def demographic_correlation(
    cases: DataFrame, people: DataFrame, dimension: str, as_of: str = "",
    f: ReportFilters = ReportFilters(),
) -> DataFrame:
    """Two-dimensional COUNT(DISTINCT case_id) matrices: service×age,
    service×gender, or race×status. cases LEFT JOIN people keeps cases
    whose person is missing (→ 'Unknown' demographic)."""
    base = _outcome_base(cases, f)
    if dimension == "age_by_service":
        age = F.floor(
            (F.lit(as_of).cast("timestamp").cast("double")
             - F.col("date_of_birth").cast("timestamp").cast("double"))
            / F.lit(86400.0 * 365.25)
        )
        bucket = F.when(age.isNull(), "Unknown").otherwise(F.lit("65+"))
        for lo, hi, label in reversed(_CORR_AGE_BUCKETS):
            bucket = F.when((age >= lo) & (age <= hi), label).otherwise(bucket)
        joined = base.filter(F.col("service_type").isNotNull()).join(
            people.select("person_id", "date_of_birth"), "person_id", "left"
        )
        keys = [F.col("service_type").alias("service"),
                bucket.alias("age_group")]
        order = ["service", "age_group"]
    elif dimension == "gender_by_service":
        joined = base.filter(F.col("service_type").isNotNull()).join(
            people.select("person_id", "gender"), "person_id", "left"
        )
        keys = [F.col("service_type").alias("service"),
                F.coalesce("gender", F.lit("Unknown")).alias("gender")]
        order = ["service", "gender"]
    elif dimension == "race_by_outcome":
        joined = base.filter(F.col("case_status").isNotNull()).join(
            people.select("person_id", "race"), "person_id", "left"
        )
        keys = [F.coalesce("race", F.lit("Unknown")).alias("race"),
                F.col("case_status").alias("status")]
        order = ["race", "status"]
    else:
        raise ValueError(f"unknown dimension: {dimension}")
    return (
        joined.groupBy(*keys)
        .agg(F.countDistinct("case_id").alias("case_count"))
        .orderBy(*order)
    )


# --- geographic distribution (core/app.py:4132-4211) -------------------------

_GEO_LEVELS = {
    "city": ("city", 15, True),
    "county": ("county", 10, False),
    "zip": ("postal_code", 15, False),
}


def geographic_distribution(
    cases: DataFrame, people: DataFrame, level: str = "city",
    f: ReportFilters = ReportFilters(),
) -> DataFrame:
    """COUNT(DISTINCT case_id) per city/county/zip; the city level also
    counts distinct clients. cases LEFT JOIN people keeps cases whose
    person is missing (→ 'Unknown'), matching the reference's COALESCE."""
    col, n, with_clients = _GEO_LEVELS[level]
    aggs = [F.countDistinct("case_id").alias("case_count")]
    if with_clients:
        aggs.append(F.countDistinct(cases.person_id).alias("client_count"))
    return (
        _outcome_base(cases, f)
        .join(
            people.select("person_id", F.col(col).alias("geo")),
            "person_id", "left",
        )
        .groupBy(F.coalesce(F.col("geo"), F.lit("Unknown")).alias(level))
        .agg(*aggs)
        .orderBy(F.desc("case_count"), level)
        .limit(n)
    )


# --- provider performance metrics (core/app.py:4289-4347) --------------------


def provider_performance_metrics(
    referrals: DataFrame, provider_type: str = "receiving",
    min_referrals: int = 3, n: int = 15, f: ReportFilters = ReportFilters(),
) -> DataFrame:
    """Acceptance/completion rates + avg accepted-response days per
    provider (either edge end), HAVING total >= 3."""
    col = {"receiving": "receiving_provider_name",
           "sending": "sending_provider_name"}[provider_type]
    total = F.count("*")
    accepted = F.sum(
        F.when(F.col("referral_status") == "accepted", 1).otherwise(0)
    )
    completed = F.sum(
        F.when(
            F.col("referral_status").isin("completed", "closed"), 1
        ).otherwise(0)
    )
    response = F.when(
        F.col("accepted_at").isNotNull(),
        julian_day_diff("accepted_at", "referral_created_at"),
    )
    return (
        apply_report_filters(referrals, "referrals", f)
        .filter(
            F.col("referral_created_at").isNotNull() & F.col(col).isNotNull()
        )
        .groupBy(F.col(col).alias("provider_name"))
        .agg(
            total.alias("total_referrals"),
            F.round(accepted * 100.0 / total, 1).alias("acceptance_rate"),
            F.round(completed * 100.0 / total, 1).alias("completion_rate"),
            F.round(F.avg(response), 1).alias("avg_response_days"),
        )
        .filter(F.col("total_referrals") >= min_referrals)
        .orderBy(F.desc("total_referrals"), "provider_name")
        .limit(n)
    )


# --- referral network (core/app.py:4481-4538) --------------------------------


def referral_network(
    referrals: DataFrame, min_referrals: int = 3, n: int = 50,
    f: ReportFilters = ReportFilters(),
) -> DataFrame:
    """Provider-collaboration edges plus distinct-client counts and an
    acceptance rate per edge (richer sibling of
    ``provider_network_edges``); self-edges excluded."""
    return (
        apply_report_filters(referrals, "referrals", f)
        .filter(
            F.col("referral_created_at").isNotNull()
            & F.col("sending_provider_name").isNotNull()
            & F.col("receiving_provider_name").isNotNull()
            & (F.col("sending_provider_name")
               != F.col("receiving_provider_name"))
        )
        .groupBy(
            F.col("sending_provider_name").alias("source"),
            F.col("receiving_provider_name").alias("target"),
        )
        .agg(
            F.count("*").alias("referral_count"),
            F.countDistinct("person_id").alias("unique_clients"),
            F.round(
                F.avg(
                    F.when(
                        F.col("referral_status").isin("accepted", "completed"),
                        1.0,
                    ).otherwise(0.0)
                )
                * 100,
                1,
            ).alias("acceptance_rate"),
        )
        .filter(F.col("referral_count") >= min_referrals)
        .orderBy(F.desc("referral_count"), "source", "target")
        .limit(n)
    )


# --- employee workload (core/app.py:3349-3409) -------------------------------


def employee_workload(
    employees: DataFrame, cases: DataFrame, f: ReportFilters = ReportFilters(),
    n: int = 20,
) -> DataFrame:
    """Caseload per employee: LEFT JOIN keeps idle employees out via
    HAVING total > 0; resolution rate from the ``outcome`` column."""
    active = F.count(
        F.when(F.col("case_status").isin("active", "managed", "processed"), 1)
    )
    resolved = F.count(F.when(F.col("outcome") == "resolved", 1))
    total = F.count("case_id")
    return (
        employees.join(
            apply_report_filters(cases, "cases", f),
            employees.employee_id == F.col("primary_worker_id"),
            "left",
        )
        .groupBy(
            F.concat_ws(
                " ", "employee_first_name", "employee_last_name"
            ).alias("employee_name"),
            employees.provider_name.alias("provider"),
        )
        .agg(
            active.alias("active_cases"),
            total.alias("total_cases"),
            resolved.alias("resolved_cases"),
            F.round(resolved * 100.0 / F.nullif(total, F.lit(0)), 1).alias(
                "resolution_rate"
            ),
        )
        .filter(F.col("total_cases") > 0)
        .orderBy(
            F.desc("active_cases"), F.desc("total_cases"), "employee_name"
        )
        .limit(n)
    )


# --- resource-list share analytics ------------------------------------------
# The reference stores resource_lists / resource_list_shares
# (core/database_schema.py:310-360) but surfaces them only through the
# generic ETL/export machinery; these handlers give the share events a
# first-class analytics counterpart using the same patterns as the
# case/referral reports above.


def share_activity_summary(
    lists: DataFrame, shares: DataFrame, f: ReportFilters = ReportFilters(),
) -> DataFrame:
    """Single-row rollup: lists created, share events, distinct lists
    actually shared, distinct recipients, shares per shared list."""
    li = apply_date_range(lists, "created_at", f)
    sh = apply_date_range(shares, "created_at", f)
    # 1-row x 1-row crossJoin (h11/h12 pattern): the lists side stays
    # in the lazy plan — no eager collect, one job for the whole row
    created = li.agg(F.countDistinct("id").cast("bigint").alias("lists_created"))
    return sh.agg(
        F.count("*").alias("share_events"),
        F.countDistinct("resource_list_id").alias("lists_shared"),
        F.countDistinct("person_id").alias("persons_reached"),
        F.round(
            F.count("*")
            / F.nullif(
                F.countDistinct("resource_list_id").cast("double"), F.lit(0.0)
            ),
            2,
        ).alias("shares_per_list"),
    ).crossJoin(F.broadcast(created)).select(
        "lists_created",
        "share_events",
        "lists_shared",
        "persons_reached",
        "shares_per_list",
    )


def shares_by_method(
    shares: DataFrame, f: ReportFilters = ReportFilters(),
) -> DataFrame:
    """share_method x share_language mix with percent-of-total — the
    delivery-channel breakdown (NULLs bucketed as Not Specified)."""
    sh = apply_date_range(shares, "created_at", f)
    counts = sh.groupBy(
        F.coalesce("share_method", F.lit(NOT_SPECIFIED)).alias("method"),
        F.coalesce("share_language", F.lit(NOT_SPECIFIED)).alias("language"),
    ).agg(F.count("*").alias("share_count"))
    total = Window.partitionBy()
    return counts.select(
        "method",
        "language",
        "share_count",
        F.round(
            F.col("share_count") * 100.0 / F.sum("share_count").over(total), 1
        ).alias("pct_of_total"),
    ).orderBy(F.desc("share_count"), "method", "language")


def top_sharing_employees(
    shares: DataFrame, employees: DataFrame,
    f: ReportFilters = ReportFilters(), n: int = 10,
) -> DataFrame:
    """Top-n sharers: share volume, distinct lists, distinct
    recipients per employee (broadcast dim enrich, top-k)."""
    sh = apply_date_range(shares, "created_at", f)
    emp = employees.select(
        "employee_id",
        F.concat_ws(
            " ", "employee_first_name", "employee_last_name"
        ).alias("employee_name"),
    )
    return (
        sh.groupBy(F.col("shared_by_employee_id").alias("employee_id"))
        .agg(
            F.count("*").alias("share_count"),
            F.countDistinct("resource_list_id").alias("lists_shared"),
            F.countDistinct("person_id").alias("persons_reached"),
        )
        .join(F.broadcast(emp), "employee_id", "left")
        .select(
            F.coalesce("employee_name", F.lit(NOT_SPECIFIED)).alias(
                "employee_name"
            ),
            "share_count",
            "lists_shared",
            "persons_reached",
        )
        .orderBy(F.desc("share_count"), "employee_name")
        .limit(n)
    )


def shared_list_reach(
    lists: DataFrame, shares: DataFrame, f: ReportFilters = ReportFilters(),
) -> DataFrame:
    """Reach buckets: LEFT JOIN keeps never-shared lists in the 0
    bucket (household-scatter two-level aggregation shape)."""
    li = apply_date_range(lists, "created_at", f).select(
        F.col("id").alias("resource_list_id")
    )
    # shares filter on the same window as every sibling handler —
    # otherwise this report disagrees with share_activity_summary on
    # share counts for the identical ReportFilters
    sh = apply_date_range(shares, "created_at", f)
    per_list = (
        li.join(
            sh.select("resource_list_id", F.lit(1).alias("one")),
            "resource_list_id",
            "left",
        )
        .groupBy("resource_list_id")
        .agg(F.count("one").alias("share_count"))
    )
    bucket = (
        F.when(F.col("share_count") == 0, "never shared")
        .when(F.col("share_count") == 1, "shared once")
        .when(F.col("share_count").between(2, 3), "2-3 shares")
        .otherwise("4+ shares")
    )
    return (
        per_list.groupBy(bucket.alias("reach"))
        .agg(
            F.count("*").alias("list_count"),
            F.sum("share_count").cast("bigint").alias("share_events"),
        )
        .orderBy("reach")
    )
