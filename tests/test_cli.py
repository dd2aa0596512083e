"""CLI surface: the reference's entry points (§3) driven end-to-end —
ingest pipe-delimited fixtures, run reports, gated ad-hoc SQL, exports
— each command emitting one JSON document.
"""

from __future__ import annotations

import json
import zipfile

import pytest

from calaveras_uniteus_etl_spark.cli import build_parser

PEOPLE = (
    "person_id|first_name|last_name|gender|date_of_birth|people_created_at\n"
    "p1|John|Doe|male|1990-01-15|2024-01-01 10:00:00\n"
    "p2|Jane|Smith|female|1985-06-20|2024-01-02 11:00:00\n"
    "p3|Ann|Lee|female|2000-12-31|2024-01-03 12:00:00\n"
)

CASES = (
    "case_id|person_id|case_status|case_created_at|case_updated_at|service_type\n"
    "c1|p1|open|2024-01-01 10:00:00|2024-01-01 10:00:00|Housing\n"
    "c2|p2|managed|2024-01-02 11:00:00|2024-02-02 11:00:00|Food\n"  # created Jan, updated Feb
    "c3|p3|open|2024-02-03 10:00:00|2024-01-05 09:00:00|Housing\n"  # created Feb, updated Jan
)


def _run(spark, argv, capsys):
    a = build_parser().parse_args(argv)
    rc = a.fn(spark, a)
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return rc, json.loads(out)


@pytest.fixture()
def warehouse(spark, tmp_path, capsys):
    inp = tmp_path / "input"
    inp.mkdir()
    (inp / "people_20240101.txt").write_text(PEOPLE)
    (inp / "cases_20240101.txt").write_text(CASES)
    wh = str(tmp_path / "wh")
    rc, rep = _run(
        spark,
        ["ingest", "--input-dir", str(inp), "--warehouse", wh, "--no-phi"],
        capsys,
    )
    assert rc == 0
    assert {t["table"]: t["status"] for t in rep["tasks"]} == {
        "people": "completed",
        "cases": "completed",
    }
    assert all(t["rows_inserted"] == 3 for t in rep["tasks"])
    return wh


def test_cli_report_rows_and_chart(spark, warehouse, capsys):
    rc, out = _run(
        spark,
        ["report", "--name", "status_distribution", "--table", "cases",
         "--warehouse", warehouse],
        capsys,
    )
    assert rc == 0
    assert out["columns"] == ["status", "count"]
    assert dict((r[0], r[1]) for r in out["rows"]) == {"open": 2, "managed": 1}

    rc, chart = _run(
        spark,
        ["report", "--name", "status_distribution", "--table", "cases",
         "--warehouse", warehouse, "--chart"],
        capsys,
    )
    assert chart["labels"] == ["open", "managed"]
    assert chart["values"] == [2, 1]


def test_cli_report_with_filters(spark, warehouse, capsys):
    rc, out = _run(
        spark,
        ["report", "--name", "top_service_types", "--table", "cases",
         "--warehouse", warehouse, "--start-date", "2024-02-01"],
        capsys,
    )
    # facet reports filter on case_updated_at (reference semantics):
    # only c2 was UPDATED on/after Feb 1 (c3 was merely created then).
    assert out["rows"] == [["Food", 1]]


def test_cli_summary_and_timeline(spark, warehouse, capsys):
    rc, out = _run(
        spark, ["report", "--name", "summary", "--warehouse", warehouse], capsys
    )
    row = dict(zip(out["columns"], out["rows"][0]))
    assert row["total_people"] == 3 and row["total_cases"] == 3

    rc, tl = _run(
        spark,
        ["report", "--name", "timeline", "--table", "cases",
         "--warehouse", warehouse, "--grouping", "month"],
        capsys,
    )
    assert [r[1] for r in tl["rows"]] == [2, 1]


def test_cli_query_gate(spark, warehouse, capsys):
    rc, out = _run(
        spark,
        ["query", "--warehouse", warehouse, "--sql",
         "SELECT case_status, COUNT(*) AS n FROM cases GROUP BY case_status"],
        capsys,
    )
    assert out["row_count"] == 2

    from calaveras_uniteus_etl_spark.operators.adhoc import QueryNotAllowedError

    a = build_parser().parse_args(
        ["query", "--warehouse", warehouse, "--sql", "DROP TABLE cases"]
    )
    with pytest.raises(QueryNotAllowedError):
        a.fn(spark, a)


def test_cli_export_zip(spark, warehouse, tmp_path, capsys):
    out_path = str(tmp_path / "dump.zip")
    rc, out = _run(
        spark,
        ["export", "--tables", "people,cases", "--fmt", "zip",
         "--out", out_path, "--warehouse", warehouse],
        capsys,
    )
    assert rc == 0 and out["rows"] == {"people": 3, "cases": 3}
    with zipfile.ZipFile(out_path) as z:
        assert sorted(z.namelist()) == ["cases.csv", "people.csv"]


def test_cli_quality_empty(spark, warehouse, capsys):
    rc, out = _run(spark, ["quality", "--warehouse", warehouse], capsys)
    assert rc == 0 and out["rows"] == []


def test_cli_every_report_runs(spark, warehouse, capsys):
    """Smoke the whole dispatch table — every named report must execute
    against a freshly-ingested warehouse and emit a rows payload."""
    from calaveras_uniteus_etl_spark.cli import _report_registry

    needs_table = {"status_distribution", "top_service_types", "timeline"}
    for name in _report_registry():
        argv = ["report", "--name", name, "--warehouse", warehouse]
        if name in needs_table:
            argv += ["--table", "cases"]
        rc, out = _run(spark, argv, capsys)
        assert rc == 0 and "columns" in out, name


def test_cli_query_views_available(spark, warehouse, capsys):
    rc, out = _run(
        spark,
        ["query", "--warehouse", warehouse, "--sql",
         "SELECT COUNT(*) AS n FROM v_active_cases"],
        capsys,
    )
    # rows are list-of-lists, the same shape report/quality emit
    assert rc == 0 and dict(zip(out["columns"], out["rows"][0]))["n"] == 3


def test_cli_timeline_applies_filters(spark, warehouse, capsys):
    rc, tl = _run(
        spark,
        ["report", "--name", "timeline", "--table", "cases",
         "--warehouse", warehouse, "--grouping", "month",
         "--start-date", "2024-02-01"],
        capsys,
    )
    # c3 is created in February but UPDATED in January: the timeline
    # must filter on the bucketing column (created_at), so c3 survives.
    # Filtering on updated_at (the facet machinery's column) would
    # return an empty timeline here.
    assert rc == 0 and [r[1] for r in tl["rows"]] == [1]  # February only


def test_cli_timeline_unknown_table_is_clean_error(spark, warehouse, capsys):
    from calaveras_uniteus_etl_spark.cli import build_parser

    a = build_parser().parse_args(
        ["report", "--name", "timeline", "--table", "employees",
         "--warehouse", warehouse]
    )
    with pytest.raises(SystemExit, match="date column"):
        a.fn(spark, a)


def test_cli_sync_schedule_with_fake_clock(spark, tmp_path, capsys):
    """The automated-sync twin (reference core/app.py:221-310 poller +
    1569-1648 config endpoints): configure writes the single-row
    table; a fake-clock schedule proves (a) disabled -> never runs,
    (b) the first due tick runs ONCE and re-arms next_run one interval
    out BEFORE ingesting, (c) a not-yet-due tick is a no-op, (d) a
    long downtime collapses to one catch-up run."""
    from datetime import datetime, timedelta

    from calaveras_uniteus_etl_spark.config import ETLConfig, PHIConfig
    from calaveras_uniteus_etl_spark.sync import (
        load_config,
        save_config,
        sync_loop,
        sync_tick,
    )
    from calaveras_uniteus_etl_spark.warehouse import Warehouse

    inp = tmp_path / "input"
    inp.mkdir()
    (inp / "people_20240101.txt").write_text(PEOPLE)
    wh_dir = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_dir)
    etl_cfg = ETLConfig(
        input_dir=str(inp), warehouse_dir=wh_dir, phi=PHIConfig(enabled=False)
    )
    t0 = datetime(2024, 3, 1, 12, 0, 0)

    # (a) unconfigured/disabled: the tick refuses
    assert sync_tick(spark, wh, etl_cfg, t0) == {
        "ran": False,
        "reason": "disabled",
    }

    # configure via the CLI surface (parity with the POST endpoint)
    rc, out = _run(
        spark,
        [
            "sync", "--warehouse", wh_dir, "--configure",
            "--interval-minutes", "30", "--username", "op",
        ],
        capsys,
    )
    assert rc == 0 and out["enabled"] is True
    cfg = load_config(wh)
    assert cfg.interval_minutes == 30 and cfg.next_run is not None
    # the CLI stamped the wall clock; pin the schedule to the fake
    # epoch so the tick arithmetic below is deterministic
    save_config(
        wh, enabled=True, interval_minutes=30, now=t0, username="op"
    )
    assert load_config(wh).next_run == (
        t0 + timedelta(minutes=30)
    ).isoformat()

    # (b) drive a 3-tick schedule with a fake clock: due, not-due,
    # due-again — exactly two ingests
    times = iter(
        [
            t0 + timedelta(minutes=31),  # past next_run -> runs
            t0 + timedelta(minutes=40),  # before the re-armed slot
            t0 + timedelta(minutes=62),  # past it -> runs again
        ]
    )
    slept: list[float] = []
    results = sync_loop(
        spark,
        wh,
        etl_cfg,
        poll_seconds=60.0,
        max_ticks=3,
        clock=lambda: next(times),
        sleep=slept.append,
    )
    assert [r["ran"] for r in results] == [True, False, True]
    assert slept == [60.0, 60.0]  # no sleep before the first tick
    first = results[0]
    # re-armed one interval from the TICK time, stamped before ingest
    assert first["last_run"] == (t0 + timedelta(minutes=31)).isoformat()
    assert first["next_run"] == (t0 + timedelta(minutes=61)).isoformat()
    assert first["n_tasks"] == 1
    # second run found no new files (md5 skip) but still re-armed
    cfg = load_config(wh)
    assert cfg.next_run == (t0 + timedelta(minutes=92)).isoformat()

    # (d) downtime: jump the clock a day ahead — exactly ONE catch-up
    late = t0 + timedelta(days=1)
    out = sync_tick(spark, wh, etl_cfg, late)
    assert out["ran"] is True
    assert not sync_tick(spark, wh, etl_cfg, late + timedelta(minutes=1))[
        "ran"
    ]

    # (c) save_config disabled clears the schedule
    save_config(
        wh, enabled=False, interval_minutes=30, now=late, username="op"
    )
    assert load_config(wh).next_run is None

    # the config row is a declared table, so `query` reads it as a view
    rc, out = _run(
        spark,
        ["query", "--warehouse", wh_dir, "--sql",
         "SELECT enabled, interval_minutes FROM automated_sync_config"],
        capsys,
    )
    assert rc == 0 and out["rows"] == [[False, 30]]
