"""``dashboard`` workload: report requests over a warehouse that sync
ticks keep writing to.

Set-up starts the session, writes a seeded full extract and loads it
through ``etl.ingest`` (the full load). The measured part is one
closed-loop client: each request picks one of the report routes of
the CLI router (Zipf-skewed popularity) and one of five filter
variants, and collects the rows with the CLI's 1000-row cap. Rounds of
``harness.MIN_SAMPLES`` requests run until the run's seconds are up;
after every ``TICK_EVERY`` requests a sync tick lands (a delta job
through ``etl.ingest``) and the next request is a ``summary`` that must
count the rows the tick added.

Correctness gates: every ingest job's file statuses and upsert counts,
table row counts and PHI hashing (read back with DuckDB), the freshness
check after each tick, and every summary / status_distribution /
provider_network response compared with DuckDB's recomputation over the
warehouse parquet as it stood when the request ran.
"""

from __future__ import annotations

import time

import duckdb

from perfbench import extract, harness, layers
from perfbench.trace import Tracer, executor_totals, span, start_op

PEOPLE = 2000  # 14k input rows in 4 files
TICKS = 2  # per round
TICK_EVERY = 10
ZIPF_S = 1.1
STATUS = "pending"
SERVICE_TYPE = "Housing"
PROVIDER = "Provider 07"
START, END = "2024-09-01", "2025-02-28"
VARIANTS = {
    "none": [],
    "date": ["--start-date", START, "--end-date", END],
    "status": ["--status", STATUS],
    "service_type": ["--service-type", SERVICE_TYPE],
    "provider": ["--provider", PROVIDER],
}
# The 31 CLI report routes over people, cases, referrals and assistance
# requests, in popularity order, with the table of the routes that take
# one. The five over employees and resource lists are left out with
# their tables. Routes over tables without a status column skip that
# variant.
ROUTES = (
    ("summary", None), ("status_distribution", "cases"), ("top_service_types", "referrals"),
    ("provider_network", None), ("timeline", "cases"), ("referral_funnel", None),
    ("case_outcomes", None), ("top_providers", None), ("demographics", None),
    ("resolution_time", None), ("conversion_rates", None), ("provider_performance", None),
    ("top_programs", None), ("service_subtypes", None), ("age_distribution", None),
    ("cases_by_location", None), ("outcome_distribution", None), ("time_to_resolution", None),
    ("high_risk_drop_off", None), ("referral_network", None), ("income_distribution", None),
    ("geographic_distribution", None), ("demographic_correlation", None),
    ("provider_performance_metrics", None), ("service_pathways", None),
    ("household_scatter", None), ("cohort_retention", None), ("touchpoint_averages", None),
    ("touchpoint_distribution", None), ("housing_impact", None), ("veteran_services", None),
)
NO_STATUS = {"veteran_services"}
GATED = ("summary", "status_distribution", "provider_network")
PHI_COLUMNS = {"people": ("person_id", "first_name", "last_name", "medicaid_id"),
               "cases": ("case_id", "person_id"), "referrals": ("referral_id", "case_id")}


TICK = object()


def schedule(client: "Client", requests: int) -> list[tuple[str, str]]:
    """The (route, variant) requests of one round: Zipf shares of
    ``requests`` by largest remainder, each route cycling through its
    filter variants, interleaved round-robin across routes. The same for
    every seed, so the latency figures do not hinge on which routes a
    seed draws or on which ones run while the JVM is still warming up."""
    weights = [1.0 / (rank + 1) ** ZIPF_S for rank in range(len(ROUTES))]
    quotas = [requests * w / sum(weights) for w in weights]
    counts = [int(q) for q in quotas]
    by_remainder = sorted(range(len(ROUTES)), key=lambda i: counts[i] - quotas[i])
    for i in by_remainder[: requests - sum(counts)]:
        counts[i] += 1
    steps = []
    for rank, ((route, _), n) in enumerate(zip(ROUTES, counts)):
        variants = client.variants[route]
        steps += [(j, rank, route, variants[j % len(variants)]) for j in range(n)]
    return [(route, variant) for _, _, route, variant in sorted(steps)]


def _round(client: "Client"):
    """One round of ``harness.MIN_SAMPLES`` requests with a sync tick
    after every ``TICK_EVERY`` scheduled ones, each followed by the
    freshness check: a ``summary`` that must count the tick's rows."""
    steps = schedule(client, harness.MIN_SAMPLES - TICKS)
    for k, (route, variant) in enumerate(steps):
        if k and k % TICK_EVERY == 0:
            yield TICK
            yield "summary", "none", True
        yield route, variant, False


class Client:
    """Issues report requests the way ``cli report`` does, without the
    process start: resolve tables, build the DataFrame, collect rows."""

    def __init__(self, spark, warehouse_dir: str, tracer: Tracer | None):
        from calaveras_uniteus_etl_spark import cli

        self.spark, self.tracer, self.cli = spark, tracer, cli
        self.registry = cli._report_registry()
        parser = cli.build_parser()
        self.args = {}
        for route, table in ROUTES:
            for variant, flags in VARIANTS.items():
                if variant == "status" and route in NO_STATUS:
                    continue
                argv = ["report", "--name", route, "--warehouse", warehouse_dir, *flags]
                self.args[route, variant] = parser.parse_args(argv + (["--table", table] if table else []))
        self.variants = {r: [v for v in VARIANTS if (r, v) in self.args] for r, _ in ROUTES}

    def request(self, route: str, variant: str) -> dict:
        a = self.args[route, variant]
        needed, build = self.registry[route]
        with span(self.tracer, "reports.request", route=route, variant=variant):
            tables = self.cli._load_tables(self.spark, a.warehouse, needed, a.table)
            with span(self.tracer, "reports.build"):
                df = build(tables, a)
            with span(self.tracer, "reports.collect"):
                return self.cli._rows_payload(df)


def _check_job(job: extract.Job, report) -> list[str]:
    got = {t.file_name: t for t in report.tasks}
    bad = []
    for name, (ins, upd) in job.expect_completed.items():
        t = got.get(name)
        if t is None or t.status.value != "completed" or (t.rows_inserted, t.rows_updated) != (ins, upd):
            bad.append(f"ingest {name}: {t and (t.status.value, t.rows_inserted, t.rows_updated)} != {(ins, upd)}")
    for name in job.expect_skipped:
        if name not in got or got[name].status.value != "skipped":
            bad.append(f"ingest {name}: not skipped")
    for name in job.expect_failed:
        if name not in got or got[name].status.value != "failed":
            bad.append(f"ingest {name}: did not fail")
    return bad


def _duck(warehouse_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for table in extract.TABLES:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{warehouse_dir}/{table}/*.parquet')")
    return con


def _check_tables(warehouse_dir: str, ex: extract.Extract) -> list[str]:
    """Row counts equal the live key sets; PHI columns hold hashes."""
    bad = []
    con = _duck(warehouse_dir)
    try:
        for table, keys in ex.keys.items():
            n = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
            if n != len(keys):
                bad.append(f"table {table}: {n} rows, expected {len(keys)}")
        for table, cols in PHI_COLUMNS.items():
            for c in cols:
                n = con.execute(
                    f"SELECT count(*) FROM {table} WHERE {c} IS NOT NULL "
                    f"AND NOT regexp_matches({c}, '^[0-9a-f]{{64}}$')"
                ).fetchone()[0]
                if n:
                    bad.append(f"table {table}: {n} unhashed {c} values")
    finally:
        con.close()
    return bad


def _where(table: str, variant: str) -> str:
    if variant == "date":
        col = "case_updated_at" if table == "cases" else "referral_updated_at"
        return f"{col} >= TIMESTAMP '{START}' AND {col} <= TIMESTAMP '{END}'"
    if variant == "status":
        return f"{'case_status' if table == 'cases' else 'referral_status'} = '{STATUS}'"
    if variant == "service_type":
        return f"service_type = '{SERVICE_TYPE}'"
    if variant == "provider":
        if table == "cases":
            return f"provider_name = '{PROVIDER}'"
        return f"(sending_provider_name = '{PROVIDER}' OR receiving_provider_name = '{PROVIDER}')"
    return "TRUE"


def oracle(con, route: str, variant: str) -> list[tuple]:
    """DuckDB recomputation of a gated route."""
    if route == "summary":
        sql = (f"SELECT (SELECT count(*) FROM people), "
               f"(SELECT count(*) FROM cases WHERE {_where('cases', variant)}), "
               f"(SELECT count(*) FROM referrals WHERE {_where('referrals', variant)}), "
               f"(SELECT count(*) FROM assistance_requests)")
    elif route == "status_distribution":
        sql = (f"SELECT coalesce(case_status, 'Unknown') AS s, count(*) AS n FROM cases "
               f"WHERE {_where('cases', variant)} GROUP BY 1 ORDER BY n DESC, s")
    else:
        sql = (f"SELECT sending_provider_name AS s, receiving_provider_name AS r, count(*) AS n, "
               f"avg(CASE WHEN referral_status IN ('accepted', 'completed') THEN 1.0 ELSE 0.0 END) "
               f"FROM referrals WHERE {_where('referrals', variant)} AND s IS NOT NULL "
               f"AND r IS NOT NULL AND s <> r GROUP BY 1, 2 ORDER BY n DESC, s, r LIMIT 50")
    return _canon(con.execute(sql).fetchall())


def _oracles(warehouse_dir: str, client: Client) -> dict[tuple[str, str], list[tuple]]:
    """DuckDB's answer for every gated route and variant, over the
    warehouse as it is now."""
    con = _duck(warehouse_dir)
    try:
        return {(r, v): oracle(con, r, v) for r in GATED for v in client.variants[r]}
    finally:
        con.close()


def _canon(rows) -> list[tuple]:
    return [tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows]


def main(run: harness.Run) -> harness.Result:
    from calaveras_uniteus_etl_spark import etl
    from calaveras_uniteus_etl_spark.config import ETLConfig

    t_setup = time.perf_counter()
    spark = run.start_session()
    tracer = Tracer(spark) if run.trace else None
    failures: list[str] = []
    try:
        if tracer is not None:
            layers.trace_ingest(tracer)
        ex, gen = extract.generate(run.path("input"), run.seed, PEOPLE)
        cfg = ETLConfig(input_dir=ex.input_dir, warehouse_dir=run.path("warehouse"))
        t0 = time.perf_counter()
        failures += _check_job(ex.jobs[0], etl.ingest(spark, cfg))
        full_load_s = time.perf_counter() - t0
        stored = layers.dir_bytes(cfg.warehouse_dir) / ex.jobs[0].input_bytes
        client = Client(spark, cfg.warehouse_dir, tracer)
        setup_s = time.perf_counter() - t_setup
        failures += _check_tables(cfg.warehouse_dir, ex)

        lat: list[float] = []
        ticks: list[float] = []
        want = _oracles(cfg.warehouse_dir, client)  # gated results of the current epoch
        if tracer is not None:
            jobs0, task0 = layers.job_count(spark), layers.task_seconds(spark)
            before, overhead0 = executor_totals(spark), tracer.overhead_s
        t_start = time.perf_counter()
        while not lat or time.perf_counter() - t_start < run.seconds:
            for step in _round(client):
                if step is TICK:
                    job = extract.make_delta(ex, gen)
                    t0 = time.perf_counter()
                    report = etl.ingest(spark, cfg)
                    ticks.append(time.perf_counter() - t0)
                    failures += _check_job(job, report)
                    want = _oracles(cfg.warehouse_dir, client)
                    continue
                route, variant, fresh = step
                start_op(tracer)
                t0 = time.perf_counter()
                payload = client.request(route, variant)
                lat.append(time.perf_counter() - t0)
                if fresh:
                    counts = [len(ex.keys[t]) for t in ("people", "cases", "referrals", "assistance_requests")]
                    if payload["rows"] != [counts]:
                        failures.append(f"summary after tick {len(ticks)}: {payload['rows']} != {[counts]}")
                if route in GATED:
                    got = _canon(tuple(r) for r in payload["rows"])
                    if got != want[route, variant]:
                        failures.append(f"{route}/{variant} request {len(lat)}: {got[:3]} != {want[route, variant][:3]}")
        wall = time.perf_counter() - t_start
        measured = {}
        if tracer is not None:
            measured = layers.spark_metrics(
                before, executor_totals(spark), layers.job_count(spark) - jobs0, layers.task_seconds(spark) - task0, wall
            )
            overhead_s = tracer.overhead_s - overhead0
        driver_mb, jvm_mb = run.peak_rss_mb()
        t_check = time.perf_counter()
        failures += _check_tables(cfg.warehouse_dir, ex)
        check_s = time.perf_counter() - t_check
    finally:
        if tracer is not None:
            tracer.unwrap_all()

    samples = lat
    pct = harness.tail_percentile(len(samples))
    if pct is None or not ticks:
        failures.append(f"too few samples: {len(samples)} requests, {len(ticks)} ticks")
        pct = 50.0
    request_time = sum(samples)
    p50_ms = 1e3 * harness.median(samples)
    tail_ms = 1e3 * harness.percentile(samples, pct)
    sync_s = harness.median(ticks) if ticks else 0.0
    input_rows = ex.jobs[0].input_rows
    res = harness.Result(
        attempted=len(samples) + len(ex.jobs[0].files) + sum(len(j.files) for j in ex.jobs[1:]),
        failures=failures,
        end_to_end={
            "setup_s": setup_s,
            "request_p50_ms": p50_ms,
            "request_tail_ms": tail_ms,
            "requests_per_s": len(samples) / request_time,
            "batch_s": sync_s,
            "build_s": full_load_s,
        },
        named={
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (driver_mb + jvm_mb, "MB"),
            "ingest.rows_per_s": (input_rows / full_load_s, "rows/s"),
            "ingest.delta_job_s": (sync_s, "s"),
            "ingest.stored_bytes_per_input_byte": (stored, "ratio"),
            "dashboard.report_p50_ms": (p50_ms, "ms"),
            "dashboard.report_tail_ms": (tail_ms, "ms"),
            "dashboard.reports_per_s": (len(samples) / request_time, "1/s"),
            "dashboard.sync_s": (sync_s, "s"),
        },
        info={"percentile": pct, "n": len(samples), "ticks": len(ticks),
              "phases_s": {"setup": setup_s, "measured": wall, "check": check_s}},
    )
    if tracer is not None:
        measured.update(layers.ingest_metrics(tracer, cfg.warehouse_dir))
        measured.update(layers.request_metrics(tracer, "reports", "request"))
        measured["trace.overhead_ms"] = 1e3 * overhead_s / len(samples)
        res.per_layer = layers.per_layer(run, measured)
        tracer.dump(run.out_path("trace.jsonl"))
    return res
