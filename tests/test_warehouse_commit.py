"""The warehouse commit: every write fills a new version directory and
one symlink replace makes it live.

Crash points: a write that fails in Spark, at the pointer replace or in
the prune leaves readers on exactly the old or the new rows, and the
next write converges to the current version plus RETAINED_VERSIONS
superseded ones on disk. Product path: reports that loop while an
ingest tick reloads their tables see each table's pre-tick or post-tick
row count, never an empty table or an error.
"""

from __future__ import annotations

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F

from calaveras_uniteus_etl_spark import cli, etl
from calaveras_uniteus_etl_spark import warehouse as W
from calaveras_uniteus_etl_spark.config import ETLConfig, PHIConfig
from calaveras_uniteus_etl_spark.warehouse import RETAINED_VERSIONS, Warehouse


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _gen(spark, gen: int):
    return spark.range(3).select("id", F.lit(gen).alias("v"))


def _on_disk(root: str, table: str) -> list[str]:
    return sorted(os.listdir(os.path.join(root, "_versions", table)))


def _failing_spark_write(monkeypatch, wh, spark):
    bad = spark.range(3).select(
        "id", F.when(F.col("id") == 2, F.raise_error(F.lit("boom"))).otherwise(F.lit(-1)).alias("v")
    )
    wh.write("t", bad)


def _failing_pointer(monkeypatch, wh, spark):
    def boom(*a, **k):
        raise OSError("pointer replace failed")

    monkeypatch.setattr(W.os, "replace", boom)
    wh.write("t", _gen(spark, 99))


def _failing_prune(monkeypatch, wh, spark):
    def boom(*a, **k):
        raise OSError("prune failed")

    monkeypatch.setattr(Warehouse, "_prune", boom)
    wh.write("t", _gen(spark, 99))


@pytest.mark.parametrize(
    "crash, committed",
    [(_failing_spark_write, False), (_failing_pointer, False), (_failing_prune, True)],
    ids=["spark_write", "pointer_replace", "prune"],
)
def test_crash_point_leaves_old_or_new_and_next_write_converges(spark, tmp_path, monkeypatch, crash, committed):
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    for gen in range(RETAINED_VERSIONS + 1):
        wh.write("t", _gen(spark, gen))
    old = _rows(wh.read("t"))
    with monkeypatch.context() as m, pytest.raises(Exception):
        crash(m, wh, spark)
    assert _rows(wh.read("t")) == (_rows(_gen(spark, 99)) if committed else old)
    assert len(_on_disk(root, "t")) > RETAINED_VERSIONS + 1  # the crash left a version behind

    wh.write("t", _gen(spark, 7))
    assert _rows(wh.read("t")) == _rows(_gen(spark, 7))
    assert len(_on_disk(root, "t")) == RETAINED_VERSIONS + 1
    # history holds the committed versions only, oldest first
    history = [{r.v for r in wh.read_version("t", n).collect()} for n in wh.list_snapshots("t")]
    committed_gens = list(range(RETAINED_VERSIONS + 1)) + ([99] if committed else [])
    assert history == [{g} for g in committed_gens[-RETAINED_VERSIONS:]]


def test_append_links_current_files_and_keeps_the_old_version(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write("t", _gen(spark, 0))
    wh.write("t", spark.range(10, 11).select("id", F.lit(1).alias("v")), mode="append")
    assert _rows(wh.read("t")) == [(0, 0), (1, 0), (2, 0), (10, 1)]
    [previous] = wh.list_snapshots("t")
    assert _rows(wh.read_version("t", previous)) == [(0, 0), (1, 0), (2, 0)]
    live = os.path.realpath(wh.path("t"))
    linked = [n for n in os.listdir(live) if os.stat(os.path.join(live, n)).st_nlink > 1]
    assert linked and all(n.endswith((".parquet", ".parquet.crc")) for n in linked)


def test_first_write_adopts_a_plain_table_directory(spark, tmp_path):
    """A table written before versions existed is a plain directory:
    it reads as it is, and the first write adopts it as a version."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _gen(spark, 0).write.parquet(wh.path("t"))
    assert _rows(wh.read("t")) == [(0, 0), (1, 0), (2, 0)]
    wh.write("t", spark.range(10, 11).select("id", F.lit(1).alias("v")), mode="append")
    assert os.path.islink(wh.path("t"))
    assert _rows(wh.read("t")) == [(0, 0), (1, 0), (2, 0), (10, 1)]
    assert [_rows(wh.read_version("t", n)) for n in wh.list_snapshots("t")] == [[(0, 0), (1, 0), (2, 0)]]


PEOPLE = "person_id|first_name|people_created_at\n{}"
CASES = "case_id|person_id|case_status|case_created_at\n{}"
REFERRALS = "referral_id|person_id|referral_status|referral_created_at\n{}"
REQUESTS = "assistance_request_id|person_id|created_at\n{}"


def _delivery(input_dir, date: str, first: int, n: int) -> None:
    ids = range(first, first + n)
    files = {
        "people": PEOPLE.format("".join(f"p{i}|Name{i}|2024-01-01 10:00:00\n" for i in ids)),
        "cases": CASES.format("".join(f"c{i}|p{i}|{'open' if i % 2 else 'closed'}|2024-01-01 10:00:00\n" for i in ids)),
        "referrals": REFERRALS.format("".join(f"r{i}|p{i}|sent|2024-01-01 10:00:00\n" for i in ids)),
        "assistance_requests": REQUESTS.format("".join(f"a{i}|p{i}|2024-01-01 10:00:00\n" for i in ids)),
    }
    for table, text in files.items():
        (input_dir / f"{table}_{date}.txt").write_text(text)


def test_reports_during_a_tick_see_pre_or_post_tick_counts(spark, tmp_path):
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    cfg = ETLConfig(input_dir=str(input_dir), warehouse_dir=str(tmp_path / "wh"), phi=PHIConfig(enabled=False))
    _delivery(input_dir, "20240101", 0, 4)
    assert not etl.ingest(spark, cfg).failed
    _delivery(input_dir, "20240201", 2, 5)  # 2 updated keys and 3 new ones per table
    allowed = {t: {4, 7} for t in ("people", "cases", "referrals", "assistance_requests")}

    registry, parser = cli._report_registry(), cli.build_parser()
    requests = [
        parser.parse_args(["report", "--name", "summary", "--warehouse", cfg.warehouse_dir]),
        parser.parse_args(["report", "--name", "status_distribution", "--warehouse", cfg.warehouse_dir, "--table", "cases"]),
    ]
    done = threading.Event()
    seen: list[dict[str, int]] = []
    errors: list[str] = []

    def request(a) -> list:
        needed, build = registry[a.name]
        return cli._rows_payload(build(cli._load_tables(spark, a.warehouse, needed, a.table), a))["rows"]

    def reports():
        while not done.is_set():
            for a in requests:
                try:
                    rows = request(a)
                except Exception as e:  # noqa: BLE001 - every error fails the test
                    errors.append(f"{a.name}: {type(e).__name__}: {e}")
                    continue
                if a.name == "summary":
                    seen.append(dict(zip(("people", "cases", "referrals", "assistance_requests"), rows[0])))
                else:
                    seen.append({"cases": sum(n for _, n in rows)})

    threads = [threading.Thread(target=reports) for _ in range(3)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        report = etl.ingest(spark, cfg)
    finally:
        done.set()
        for t in threads:
            t.join(timeout=300)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not report.failed and len(report.completed) == 4
    assert not errors, errors[:5]
    bad = [s for s in seen if any(n not in allowed[t] for t, n in s.items())]
    assert seen and not bad, bad[:5]
    assert request(requests[0]) == [[7, 7, 7, 7]]
