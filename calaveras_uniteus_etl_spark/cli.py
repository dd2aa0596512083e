"""Command-line surface for the engine — the reference's three traced
entry points (SURVEY.md §3) without the HTTP app around them:

    python -m calaveras_uniteus_etl_spark ingest --input-dir D --warehouse W
    python -m calaveras_uniteus_etl_spark sync --warehouse W --configure \
        [--interval-minutes 60] [--disabled]
    python -m calaveras_uniteus_etl_spark sync --input-dir D --warehouse W \
        [--once | --max-ticks N] [--poll-seconds 60]
    python -m calaveras_uniteus_etl_spark report --name status_distribution \
        --table referrals --warehouse W [--start-date ...] [--chart]
    python -m calaveras_uniteus_etl_spark query --warehouse W \
        --sql "SELECT case_status, COUNT(*) FROM cases GROUP BY 1"
    python -m calaveras_uniteus_etl_spark export --warehouse W \
        --tables people,cases --fmt zip --out /tmp/out.zip
    python -m calaveras_uniteus_etl_spark quality --warehouse W

Every command prints ONE JSON document to stdout (reference endpoints
return JSON payloads; core/app.py report routes / §3.2). Row-returning
commands cap output like the reference's own LIMIT caps — nothing here
ever collects an unbounded result.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession

ROW_CAP = 1000  # reference ad-hoc/default cap (operators/adhoc.py)

_CREATED_AT = {
    "people": "people_created_at",
    "cases": "case_created_at",
    "referrals": "referral_created_at",
    "assistance_requests": "created_at",
}


def _created_at_col(table: str | None) -> str:
    try:
        return _CREATED_AT[table]
    except KeyError:
        raise SystemExit(
            f"timeline has no default date column for table {table!r}; "
            f"pass --date-col (tables with defaults: {sorted(_CREATED_AT)})"
        ) from None


# --- report dispatch --------------------------------------------------------
# name -> (needed tables, builder(tables, filters, args) -> DataFrame).
# Mirrors the reference's report router (core/reports/router.py): one
# name per endpoint family; handlers stay pure DataFrame functions.


def _report_registry():
    from calaveras_uniteus_etl_spark.reports import handlers as h
    from calaveras_uniteus_etl_spark.reports.filters import (
        ReportFilters,
        apply_date_range,
        apply_facets,
    )

    def flt(a) -> ReportFilters:
        return ReportFilters(
            start_date=a.start_date,
            end_date=a.end_date,
            status=a.status,
            service_type=a.service_type,
            provider=a.provider,
            program=a.program,
        )

    return {
        "summary": (
            ("people", "cases", "referrals", "assistance_requests"),
            lambda t, a: h.summary_counts(
                t["people"], t["cases"], t["referrals"],
                t["assistance_requests"], flt(a),
            ),
        ),
        "status_distribution": (
            ("*table",),
            lambda t, a: h.status_distribution(t[a.table], a.table, flt(a)),
        ),
        "top_service_types": (
            ("*table",),
            lambda t, a: h.top_service_types(t[a.table], a.table, a.limit or 10, flt(a)),
        ),
        # timeline filters on the SAME column it buckets (the reference
        # time-series endpoints filter their own date column, not the
        # facet machinery's updated_at), then applies the facet filters.
        "timeline": (
            ("*table",),
            lambda t, a: h.timeline(
                apply_facets(
                    apply_date_range(
                        t[a.table],
                        a.date_col or _created_at_col(a.table),
                        flt(a),
                    ),
                    flt(a),
                    a.table,
                ),
                a.date_col or _created_at_col(a.table),
                a.grouping or "day",
            ),
        ),
        "resolution_time": (
            ("cases",),
            lambda t, a: h.resolution_time_by_service(t["cases"], flt(a)),
        ),
        "provider_network": (
            ("referrals",),
            lambda t, a: h.provider_network_edges(t["referrals"], a.limit or 50, flt(a)),
        ),
        "cohort_retention": (
            ("cases",),
            lambda t, a: h.cohort_retention(t["cases"]),
        ),
        "referral_funnel": (
            ("referrals",),
            lambda t, a: h.referral_funnel(t["referrals"], flt(a)),
        ),
        "case_outcomes": (
            ("cases",),
            lambda t, a: h.case_outcomes(t["cases"], flt(a)),
        ),
        "top_providers": (
            ("referrals",),
            lambda t, a: h.top_providers(
                t["referrals"], a.facet or "sending", a.limit or 10, flt(a)
            ),
        ),
        "demographics": (
            ("people", "cases"),
            lambda t, a: h.demographic_distribution(
                t["people"], t["cases"], a.facet or "gender", flt(a)
            ),
        ),
        "age_distribution": (
            ("people", "cases"),
            lambda t, a: h.age_distribution(
                t["people"], t["cases"],
                a.as_of or "2026-01-01 00:00:00", flt(a),
            ),
        ),
        "income_distribution": (
            ("people",),
            lambda t, a: h.income_distribution(t["people"]),
        ),
        "cases_by_location": (
            ("people", "cases"),
            lambda t, a: h.cases_by_location(
                t["people"], t["cases"], a.limit or 15, flt(a)
            ),
        ),
        "household_scatter": (
            ("people", "cases"),
            lambda t, a: h.household_scatter(t["people"], t["cases"], flt(a)),
        ),
        "touchpoint_averages": (
            ("people", "cases", "referrals", "assistance_requests"),
            lambda t, a: h.touchpoint_averages(
                t["people"], t["cases"], t["referrals"], t["assistance_requests"]
            ),
        ),
        "touchpoint_distribution": (
            ("people", "cases", "referrals", "assistance_requests"),
            lambda t, a: h.touchpoint_distribution(
                t["people"], t["cases"], t["referrals"], t["assistance_requests"]
            ),
        ),
        "service_pathways": (
            ("cases", "referrals"),
            lambda t, a: h.service_pathways(
                t["cases"], t["referrals"], a.limit or 20, f=flt(a)
            ),
        ),
        "conversion_rates": (
            ("referrals",),
            lambda t, a: h.referral_conversion_rates(
                t["referrals"], flt(a), n=a.limit or 10
            ),
        ),
        "provider_performance": (
            ("cases",),
            lambda t, a: h.provider_performance(t["cases"], flt(a), n=a.limit or 20),
        ),
        "high_risk_drop_off": (
            ("referrals",),
            lambda t, a: h.high_risk_drop_off(t["referrals"], flt(a), n=a.limit or 10),
        ),
        "top_programs": (
            ("referrals",),
            lambda t, a: h.top_programs(t["referrals"], a.limit or 15, flt(a)),
        ),
        "veteran_services": (
            ("assistance_requests",),
            lambda t, a: h.veteran_services(
                t["assistance_requests"], a.facet or "affiliation", flt(a)
            ),
        ),
        "service_subtypes": (
            ("cases",),
            lambda t, a: h.service_subtypes(t["cases"], a.limit or 25, flt(a)),
        ),
        "outcome_distribution": (
            ("cases",),
            lambda t, a: h.outcome_distribution(t["cases"], flt(a)),
        ),
        "time_to_resolution": (
            ("cases",),
            lambda t, a: h.time_to_resolution(t["cases"], a.limit or 10, flt(a)),
        ),
        "housing_impact": (
            ("cases", "assistance_requests"),
            lambda t, a: h.housing_impact(
                t["cases"], t["assistance_requests"], a.limit or 10, flt(a)
            ),
        ),
        "demographic_correlation": (
            ("cases", "people"),
            lambda t, a: h.demographic_correlation(
                t["cases"], t["people"], a.facet or "gender_by_service",
                a.as_of or "2026-01-01 00:00:00", flt(a),
            ),
        ),
        "geographic_distribution": (
            ("cases", "people"),
            lambda t, a: h.geographic_distribution(
                t["cases"], t["people"], a.facet or "city", flt(a)
            ),
        ),
        "provider_performance_metrics": (
            ("referrals",),
            lambda t, a: h.provider_performance_metrics(
                t["referrals"], a.facet or "receiving", n=a.limit or 15, f=flt(a)
            ),
        ),
        "referral_network": (
            ("referrals",),
            lambda t, a: h.referral_network(t["referrals"], n=a.limit or 50, f=flt(a)),
        ),
        "employee_workload": (
            ("employees", "cases"),
            lambda t, a: h.employee_workload(
                t["employees"], t["cases"], flt(a), n=a.limit or 20
            ),
        ),
        "share_activity_summary": (
            ("resource_lists", "resource_list_shares"),
            lambda t, a: h.share_activity_summary(
                t["resource_lists"], t["resource_list_shares"], flt(a)
            ),
        ),
        "shares_by_method": (
            ("resource_list_shares",),
            lambda t, a: h.shares_by_method(t["resource_list_shares"], flt(a)),
        ),
        "top_sharing_employees": (
            ("resource_list_shares", "employees"),
            lambda t, a: h.top_sharing_employees(
                t["resource_list_shares"], t["employees"], flt(a), n=a.limit or 10
            ),
        ),
        "shared_list_reach": (
            ("resource_lists", "resource_list_shares"),
            lambda t, a: h.shared_list_reach(
                t["resource_lists"], t["resource_list_shares"], flt(a)
            ),
        ),
    }


def _load_tables(spark: SparkSession, warehouse_dir: str, names, table_arg):
    """Every table a request reads, all from one commit."""
    from calaveras_uniteus_etl_spark.warehouse import Warehouse

    wh = Warehouse(spark, warehouse_dir)
    head = wh.head()
    out = {}
    for n in names:
        name = table_arg if n == "*table" else n
        if name is None:
            raise SystemExit("--table is required for this report")
        out[name] = wh.read(name, at=head)
    return out


def _rows_payload(df: DataFrame, cap: int = ROW_CAP) -> dict:
    rows = df.limit(cap + 1).collect()
    truncated = len(rows) > cap
    return {
        "columns": df.columns,
        "rows": [[r[c] for c in df.columns] for r in rows[:cap]],
        "truncated": truncated,
    }


def _chart_payload(df: DataFrame) -> dict:
    from calaveras_uniteus_etl_spark.reports.formatters import labels_values

    cols = df.columns
    return labels_values(df, cols[0], cols[-1])


def _json_default(v):
    return str(v)  # timestamps/decimals stringify, mirroring JSON APIs


def _emit(payload: dict) -> None:
    print(json.dumps(payload, default=_json_default))


# --- commands ---------------------------------------------------------------


def cmd_ingest(spark, a) -> int:
    from calaveras_uniteus_etl_spark.config import ETLConfig, PHIConfig
    from calaveras_uniteus_etl_spark.etl import ingest

    cfg = ETLConfig(
        input_dir=a.input_dir,
        warehouse_dir=a.warehouse,
        phi=PHIConfig(enabled=not a.no_phi),
        skip_processed=not a.reprocess,
        latest_file_only=a.latest_only,
    )
    report = ingest(
        spark, cfg, selected_files=set(a.files) if a.files else None
    )
    _emit(
        {
            "job_id": report.job_id,
            "tasks": [
                {
                    "file": t.file_name,
                    "table": t.table_name,
                    "status": t.status.value,
                    "rows_inserted": t.rows_inserted,
                    "rows_updated": t.rows_updated,
                    "error": t.error,
                }
                for t in report.tasks
            ],
        }
    )
    return 0


def cmd_sync(spark, a) -> int:
    from datetime import datetime

    from calaveras_uniteus_etl_spark.config import ETLConfig, PHIConfig
    from calaveras_uniteus_etl_spark.sync import (
        load_config,
        save_config,
        sync_loop,
    )
    from calaveras_uniteus_etl_spark.warehouse import Warehouse

    wh = Warehouse(spark, a.warehouse)
    if a.configure:
        cfg = save_config(
            wh,
            enabled=not a.disabled,
            interval_minutes=a.interval_minutes,
            now=datetime.now(),
            username=a.username,
        )
        _emit(
            {
                "configured": True,
                "enabled": cfg.enabled,
                "interval_minutes": cfg.interval_minutes,
                "next_run": cfg.next_run,
            }
        )
        return 0
    etl_cfg = ETLConfig(
        input_dir=a.input_dir,
        warehouse_dir=a.warehouse,
        phi=PHIConfig(enabled=not a.no_phi),
    )
    if a.input_dir is None:
        raise SystemExit("sync: --input-dir is required unless --configure")
    ticks = 1 if a.once else a.max_ticks
    results = sync_loop(
        spark,
        wh,
        etl_cfg,
        poll_seconds=a.poll_seconds,
        max_ticks=ticks,
        on_tick=_emit,
    )
    # _emit already streamed each tick; summarize scheduling state
    cfg = load_config(wh)
    _emit(
        {
            "ticks": len(results),
            "ran": sum(1 for r in results if r.get("ran")),
            "last_run": cfg.last_run,
            "next_run": cfg.next_run,
        }
    )
    return 0


def cmd_report(spark, a) -> int:
    reg = _report_registry()
    if a.name not in reg:
        raise SystemExit(
            f"unknown report {a.name!r}; available: {sorted(reg)}"
        )
    needed, build = reg[a.name]
    tables = _load_tables(spark, a.warehouse, needed, a.table)
    df = build(tables, a)
    _emit(_chart_payload(df) if a.chart else _rows_payload(df))
    return 0


def cmd_query(spark, a) -> int:
    from calaveras_uniteus_etl_spark.operators.adhoc import execute_query
    from calaveras_uniteus_etl_spark.reports.views import register_views
    from calaveras_uniteus_etl_spark.schema import TABLE_SCHEMAS

    for t, df in _load_tables(spark, a.warehouse, TABLE_SCHEMAS, None).items():
        df.createOrReplaceTempView(t)

    register_views(spark)  # v_active_cases … v_client_journey
    res = execute_query(spark, a.sql, limit=a.limit or ROW_CAP)
    # Same row shape as report/quality (_rows_payload): columns +
    # list-of-lists, one consistent JSON contract across subcommands.
    _emit(
        {
            "columns": res.columns,
            "rows": [[rec[c] for c in res.columns] for rec in res.records],
            "row_count": res.row_count,
        }
    )
    return 0


def cmd_export(spark, a) -> int:
    from calaveras_uniteus_etl_spark.exports import writers

    names = [t.strip() for t in a.tables.split(",") if t.strip()]
    tables = _load_tables(spark, a.warehouse, names, None)
    if a.fmt == "csv":
        if len(tables) != 1:
            raise SystemExit("csv export takes exactly one table")
        n = writers.export_single_csv(next(iter(tables.values())), a.out)
        _emit({"written": a.out, "rows": n})
    elif a.fmt == "zip":
        counts = writers.export_zip(tables, a.out)
        _emit({"written": a.out, "rows": counts})
    elif a.fmt == "sql":
        writers.export_sql_dump(tables, a.out)
        _emit({"written": a.out, "tables": names})
    elif a.fmt == "sqlite":
        counts = writers.export_sqlite(tables, a.out)
        _emit({"written": a.out, "rows": counts})
    elif a.fmt == "excel":
        writers.export_excel(tables, a.out)
        _emit({"written": a.out, "tables": names})
    else:
        raise SystemExit(f"unknown export format {a.fmt!r}")
    return 0


def cmd_quality(spark, a) -> int:
    from calaveras_uniteus_etl_spark.etl import quality_summary
    from calaveras_uniteus_etl_spark.warehouse import Warehouse

    wh = Warehouse(spark, a.warehouse)
    _emit(_rows_payload(quality_summary(wh)))
    return 0


# --- wiring -----------------------------------------------------------------


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="calaveras_uniteus_etl_spark")
    p.add_argument("--master", default=None, help="Spark master override")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="discover + load pending input files")
    pi.add_argument("--input-dir", required=True)
    pi.add_argument("--warehouse", required=True)
    pi.add_argument("--files", nargs="*", default=None)
    pi.add_argument("--no-phi", action="store_true")
    pi.add_argument("--reprocess", action="store_true")
    pi.add_argument("--latest-only", action="store_true")
    pi.set_defaults(fn=cmd_ingest)

    ps = sub.add_parser(
        "sync",
        help="automated-sync scheduler: configure, or poll and ingest when due",
    )
    ps.add_argument("--warehouse", required=True)
    ps.add_argument("--input-dir", default=None)
    ps.add_argument("--no-phi", action="store_true")
    ps.add_argument(
        "--configure",
        action="store_true",
        help="write the automated_sync_config row and exit",
    )
    ps.add_argument("--disabled", action="store_true")
    ps.add_argument("--interval-minutes", type=int, default=60)
    ps.add_argument("--username", default="")
    ps.add_argument("--once", action="store_true", help="one tick, no polling")
    ps.add_argument("--max-ticks", type=int, default=None)
    ps.add_argument("--poll-seconds", type=float, default=60.0)
    ps.set_defaults(fn=cmd_sync)

    pr = sub.add_parser("report", help="run a named report")
    pr.add_argument("--name", required=True)
    pr.add_argument("--warehouse", required=True)
    pr.add_argument("--table", default=None)
    pr.add_argument("--date-col", default=None)
    pr.add_argument("--grouping", default=None, choices=(None, "day", "week", "month"))
    pr.add_argument("--facet", default=None)
    pr.add_argument("--as-of", default=None)
    pr.add_argument("--limit", type=int, default=None)
    pr.add_argument("--start-date", default=None)
    pr.add_argument("--end-date", default=None)
    pr.add_argument("--status", default=None)
    pr.add_argument("--service-type", default=None)
    pr.add_argument("--provider", default=None)
    pr.add_argument("--program", default=None)
    pr.add_argument("--chart", action="store_true", help="labels/values chart JSON")
    pr.set_defaults(fn=cmd_report)

    pq = sub.add_parser("query", help="SELECT-only ad-hoc SQL over the warehouse")
    pq.add_argument("--sql", required=True)
    pq.add_argument("--warehouse", required=True)
    pq.add_argument("--limit", type=int, default=None)
    pq.set_defaults(fn=cmd_query)

    pe = sub.add_parser("export", help="export warehouse tables")
    pe.add_argument("--tables", required=True, help="comma-separated")
    pe.add_argument(
        "--fmt", required=True, choices=("csv", "zip", "sql", "sqlite", "excel")
    )
    pe.add_argument("--out", required=True)
    pe.add_argument("--warehouse", required=True)
    pe.set_defaults(fn=cmd_export)

    pql = sub.add_parser("quality", help="data-quality issue rollup")
    pql.add_argument("--warehouse", required=True)
    pql.set_defaults(fn=cmd_quality)
    return p


def main(argv: list[str] | None = None) -> int:
    a = build_parser().parse_args(argv)
    from calaveras_uniteus_etl_spark.session import get_spark

    spark = get_spark(app_name="cuetl-cli", master=a.master)
    spark.sparkContext.setLogLevel("ERROR")
    return a.fn(spark, a)


if __name__ == "__main__":
    sys.exit(main())
