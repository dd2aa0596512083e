"""Automated-sync scheduling (CLI twin of the reference's poller).

The reference runs a background thread that wakes every minute, reads
a single-row ``automated_sync_config`` table, and — when ``now`` has
passed ``next_run`` — stamps ``last_run``/``next_run`` BEFORE syncing
(so hours of downtime produce exactly ONE catch-up run) and then pulls
files + runs the ETL (/root/reference/core/app.py:221-310; the config
endpoints at core/app.py:1569-1648). In this engine the same contract
is a CLI loop: ``cli sync`` without ``--once`` polls the identical
single-row warehouse table, for at most ``--max-ticks`` ticks when
given, and each due tick drives ``etl.ingest``, whose
(file_name, md5) skip check in ``etl_metadata`` makes re-runs
idempotent. The config row is read and written on the driver with
pyarrow (``Warehouse.read_rows``/``write_rows``), so a tick runs Spark
jobs only for the table merges of the files it loads. A tick stamps the
row before its ingest job, on its own thread, so it never waits for
that job's warehouse lock.

The clock is injectable everywhere — ticks take ``now`` and the loop
takes ``clock``/``sleep`` — so scheduling decisions are deterministic
and testable; only ``cli.py`` binds the wall clock.
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass, replace
from datetime import datetime, timedelta

import pyarrow.dataset as ds
from pyspark.sql import SparkSession

from calaveras_uniteus_etl_spark.config import ETLConfig
from calaveras_uniteus_etl_spark.schema import TABLE_SCHEMAS
from calaveras_uniteus_etl_spark.warehouse import Warehouse

SYNC_TABLE = "automated_sync_config"


@dataclass(frozen=True)
class SyncConfig:
    """The single config row (reference defaults when the row is
    absent: disabled, 60-minute interval — core/app.py:1595-1603)."""

    enabled: bool = False
    interval_minutes: int = 60
    last_run: str | None = None
    next_run: str | None = None
    updated_at: str | None = None
    updated_by: str | None = None


def load_config(wh: Warehouse) -> SyncConfig:
    rows = wh.read_rows(SYNC_TABLE, TABLE_SCHEMAS[SYNC_TABLE], ds.field("id") == 1).to_pylist()
    if not rows:
        return SyncConfig()
    r = rows[0]
    return SyncConfig(
        enabled=bool(r["enabled"]),
        interval_minutes=int(r["interval_minutes"]),
        last_run=r["last_run"],
        next_run=r["next_run"],
        updated_at=r["updated_at"],
        updated_by=r["updated_by"],
    )


def _persist(wh: Warehouse, cfg: SyncConfig) -> None:
    row = (
        1,
        cfg.enabled,
        cfg.interval_minutes,
        cfg.last_run,
        cfg.next_run,
        cfg.updated_at,
        cfg.updated_by,
    )
    wh.write_rows(SYNC_TABLE, [row], TABLE_SCHEMAS[SYNC_TABLE])


def save_config(
    wh: Warehouse,
    *,
    enabled: bool,
    interval_minutes: int,
    now: datetime,
    username: str = "",
) -> SyncConfig:
    """Mirror of the POST config endpoint: ``next_run`` is scheduled
    one interval out when enabling, cleared when disabling
    (core/app.py:1619-1624)."""
    next_run = (
        (now + timedelta(minutes=interval_minutes)).isoformat()
        if enabled
        else None
    )
    cfg = SyncConfig(
        enabled=enabled,
        interval_minutes=interval_minutes,
        last_run=load_config(wh).last_run,
        next_run=next_run,
        updated_at=now.isoformat(),
        updated_by=username,
    )
    _persist(wh, cfg)
    return cfg


def _is_due(cfg: SyncConfig, now: datetime) -> bool:
    """Reference semantics: missing or unparseable ``next_run`` means
    run NOW (core/app.py:253-262)."""
    if not cfg.next_run:
        return True
    try:
        return now >= datetime.fromisoformat(cfg.next_run)
    except ValueError:
        return True


def sync_tick(
    spark: SparkSession,
    wh: Warehouse,
    etl_cfg: ETLConfig,
    now: datetime,
) -> dict:
    """One scheduler wake-up: run the ETL iff enabled and due.

    ``last_run``/``next_run`` are stamped BEFORE the ingest, exactly
    like the reference, so a backlog of missed intervals collapses to
    one catch-up run and a crashed ingest does not re-arm itself into
    a tight retry loop.
    """
    cfg = load_config(wh)
    if not cfg.enabled:
        return {"ran": False, "reason": "disabled"}
    if not _is_due(cfg, now):
        return {"ran": False, "reason": "not_due", "next_run": cfg.next_run}
    armed = replace(
        cfg,
        last_run=now.isoformat(),
        next_run=(
            now + timedelta(minutes=cfg.interval_minutes)
        ).isoformat(),
    )
    _persist(wh, armed)
    from calaveras_uniteus_etl_spark.etl import ingest

    report = ingest(spark, etl_cfg)
    return {
        "ran": True,
        "job_id": report.job_id,
        "n_tasks": len(report.tasks),
        "last_run": armed.last_run,
        "next_run": armed.next_run,
    }


def sync_loop(
    spark: SparkSession,
    wh: Warehouse,
    etl_cfg: ETLConfig,
    *,
    poll_seconds: float = 60.0,
    max_ticks: int | None = None,
    clock=datetime.now,
    sleep=_time.sleep,
    on_tick=None,
) -> list[dict]:
    """The polling loop (reference wakes every 60 s). ``max_ticks``
    bounds the loop for ``--once``/tests; ``clock``/``sleep`` are
    injectable so a test drives a whole schedule with a fake clock."""
    results: list[dict] = []
    ticks = 0
    while max_ticks is None or ticks < max_ticks:
        if ticks:
            sleep(poll_seconds)
        out = sync_tick(spark, wh, etl_cfg, clock())
        results.append(out)
        if on_tick is not None:
            on_tick(out)
        ticks += 1
    return results
