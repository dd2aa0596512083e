"""The warehouse commit: every write fills a new version directory, and
one replace of the ``_head`` link makes a commit live that names one
version of every table.

Crash points: a write that fails in Spark, at the head replace, at a
fixed ``<table>`` link or in the prune leaves readers on exactly the old
or the new rows, and the next write converges to the versions of the
last RETAINED_VERSIONS + 1 commits on disk. A root reached through a
symlinked directory keeps every table a commit carries over. Concurrency: two writers that commit different tables
at once both stay live, and a job's staged version survives another
writer's commit. Product path: every report that runs while an ingest
tick reloads its tables reads all of them from one commit, so a
``summary`` counts all four tables before the tick or all four after
it, never a mix, an empty table or an error.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from calaveras_uniteus_etl_spark import cli, etl
from calaveras_uniteus_etl_spark import warehouse as W
from calaveras_uniteus_etl_spark.config import ETLConfig, PHIConfig
from calaveras_uniteus_etl_spark.schema import TABLE_SCHEMAS
from calaveras_uniteus_etl_spark.warehouse import RETAINED_VERSIONS, Warehouse

N = StructType([StructField("n", LongType())])
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _gen(spark, gen: int):
    return spark.range(3).select("id", F.lit(gen).alias("v"))


def _on_disk(root: str, table: str) -> list[str]:
    return sorted(os.listdir(os.path.join(root, "_versions", table)))


def _commits(root: str) -> list[str]:
    names = sorted(os.listdir(os.path.join(root, "_commits")), key=lambda n: int(n[1:]))
    return [os.path.join(root, "_commits", n) for n in names]


def _failing_spark_write(monkeypatch, wh, spark):
    bad = spark.range(3).select(
        "id", F.when(F.col("id") == 2, F.raise_error(F.lit("boom"))).otherwise(F.lit(-1)).alias("v")
    )
    wh.write("t", bad)


def _failing_pointer(monkeypatch, wh, spark):
    def boom(*a, **k):
        raise OSError("head replace failed")

    monkeypatch.setattr(W.os, "replace", boom)
    wh.write("t", _gen(spark, 99))


def _fail_fixed_links(monkeypatch) -> None:
    """Let the head replace through and fail every fixed-link replace."""
    replace = os.replace

    def boom(src, dst):
        if os.path.basename(dst) != "_head":
            raise OSError("fixed link replace failed")
        replace(src, dst)

    monkeypatch.setattr(W.os, "replace", boom)


def _failing_fixed_link(monkeypatch, wh, spark):
    _fail_fixed_links(monkeypatch)
    wh.write("t", _gen(spark, 99))


def _failing_prune(monkeypatch, wh, spark):
    def boom(*a, **k):
        raise OSError("prune failed")

    monkeypatch.setattr(Warehouse, "_prune", boom)
    wh.write("t", _gen(spark, 99))


@pytest.mark.parametrize(
    "crash, committed",
    [
        (_failing_spark_write, False),
        (_failing_pointer, False),
        (_failing_fixed_link, True),
        (_failing_prune, True),
    ],
    ids=["spark_write", "pointer_replace", "fixed_link_replace", "prune"],
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
    assert wh.exists("t")
    assert len(_on_disk(root, "t")) > RETAINED_VERSIONS + 1  # the crash left a version behind

    wh.write("t", _gen(spark, 7))
    assert _rows(wh.read("t")) == _rows(_gen(spark, 7))
    assert len(_on_disk(root, "t")) == RETAINED_VERSIONS + 1
    # the retained commits hold the committed writes only, oldest first
    history = [{r.v for r in wh.read("t", at=c).collect()} for c in _commits(root)]
    committed_gens = list(range(RETAINED_VERSIONS + 1)) + ([99] if committed else []) + [7]
    assert history == [{g} for g in committed_gens[-RETAINED_VERSIONS - 1:]]


def test_a_table_added_by_a_commit_exists_before_its_fixed_link(tmp_path, monkeypatch):
    """A commit that adds a table and crashes after its head replace,
    before the table's fixed link, has still made the table live: it
    exists and reads through the head, and the next commit adds the
    fixed link that names its files."""
    root = str(tmp_path / "wh")
    wh = Warehouse(None, root)
    wh.write_rows("a", [(1,)], N)
    with monkeypatch.context() as m, pytest.raises(OSError):
        _fail_fixed_links(m)
        wh.write_rows("b", [(2,)], N)
    assert not os.path.lexists(os.path.join(root, "b"))
    assert wh.exists("b")
    assert wh.read_rows("b", N)["n"].to_pylist() == [2]
    wh.write_rows("a", [(3,)], N)
    assert len(glob.glob(os.path.join(root, "b", "*.parquet"))) == 1


def test_a_root_reached_through_a_symlink_keeps_every_table(tmp_path):
    """A warehouse opened through a symlinked directory of another depth
    (a data directory linked to a bigger disk) links every table of a
    commit to its version: a table that later commits carry over still
    reads back, and no prune deletes its version."""
    disk = tmp_path / "disk" / "a" / "b"
    disk.mkdir(parents=True)
    os.symlink(disk, tmp_path / "data")
    root = str(tmp_path / "data" / "wh")
    wh = Warehouse(None, root)
    wh.write_rows("a", [(1,)], N)
    for n in range(RETAINED_VERSIONS + 2):
        wh.write_rows("b", [(n,)], N)
    again = Warehouse(None, root)
    assert [again.read_rows(t, N)["n"].to_pylist() for t in "ab"] == [[1], [RETAINED_VERSIONS + 1]]
    assert [len(glob.glob(os.path.join(root, t, "*.parquet"))) for t in "ab"] == [1, 1]


def test_append_writes_one_file_and_keeps_the_old_version(spark, tmp_path):
    """A row append writes the live rows and the new ones as the new
    version's one file; the commit before it still reads the old rows."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write_rows("t", [(0,), (1,)], N)
    previous = wh.head()
    wh.write_rows("t", [(10,)], N, mode="append")
    assert _rows(wh.read("t")) == [(0,), (1,), (10,)]
    assert _rows(wh.read("t", at=previous)) == [(0,), (1,)]
    [only] = os.listdir(wh.path("t"))
    assert only.endswith(".parquet")


def test_two_warehouses_commit_different_tables_at_once(tmp_path):
    """Two writers, each with its own Warehouse as two processes would
    have, commit a different table at the same moment, round after
    round. The lock orders the head replaces, so neither commit drops
    the other's new version: each round's rows of both tables are live
    once both writers return."""
    root = str(tmp_path / "wh")
    rounds = 15
    start = threading.Barrier(2)
    errors: list[str] = []

    def writer(table: str, other: str) -> None:
        wh = Warehouse(None, root)  # row writes and scans need no Spark session
        try:
            for n in range(rounds):
                start.wait(timeout=60)
                seen = wh.read_rows(other, N)["n"].to_pylist()
                if n and seen not in ([n - 1], [n]):
                    errors.append(f"round {n}: {other} holds {seen}")
                wh.write_rows(table, [(n,)], N)
        except Exception as e:  # noqa: BLE001 - every error fails the test
            errors.append(f"{table}: {type(e).__name__}: {e}")
            start.abort()  # the other writer stops too

    threads = [threading.Thread(target=writer, args=pair) for pair in (("a", "b"), ("b", "a"))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:5]
    wh = Warehouse(None, root)
    assert [wh.read_rows(t, N)["n"].to_pylist() for t in ("a", "b")] == [[rounds - 1]] * 2
    assert os.path.basename(wh.head()) == f"c{2 * rounds - 1}"  # no two commits took one number


def test_a_job_commits_once_beside_a_concurrent_commit(tmp_path):
    """A writer that commits while a job runs, on another thread with its
    own Warehouse, waits for the job's one commit and commits on top of
    it, so every one of its commits keeps the job's rows. The version
    the job's second write superseded is pruned with the job's commit."""
    root = str(tmp_path / "wh")
    wh, other = Warehouse(None, root), Warehouse(None, root)
    wh.write_rows("a", [(0,)], N)
    errors: list[str] = []

    def writer() -> None:
        try:
            for n in range(RETAINED_VERSIONS + 2):
                other.write_rows("b", [(n,)], N)
        except Exception as e:  # noqa: BLE001 - every error fails the test
            errors.append(f"{type(e).__name__}: {e}")

    second = threading.Thread(target=writer, daemon=True)
    with wh.job():
        wh.write_rows("a", [(1,)], N, mode="append")
        superseded = wh.path("a")
        wh.write_rows("a", [(2,)], N, mode="append")  # reads its own staged version
        staged = wh.path("a")
        second.start()
        second.join(timeout=1)
        assert second.is_alive()  # waits for the job's lock
        assert other.read_rows("a", N)["n"].to_pylist() == [0]  # not live yet
        assert os.path.basename(wh.head()) == "c0"
    second.join(timeout=60)
    assert not second.is_alive() and not errors, errors
    # c1 is the job's commit; the writer's commits follow it, each on top of it
    assert os.path.basename(wh.head()) == f"c{RETAINED_VERSIONS + 3}"
    assert {W._links(c)["a"] for c in _commits(root)} == {staged}
    assert wh.read_rows("a", N)["n"].to_pylist() == [0, 1, 2]
    assert wh.read_rows("b", N)["n"].to_pylist() == [RETAINED_VERSIONS + 1]
    assert not os.path.exists(superseded)
    assert _on_disk(root, "a") == [os.path.basename(staged)]


# One job in its own process: append ``n`` to table ``t`` of the warehouse
# at ``root``, touching ``entered`` before the job opens and ``appended``
# once its append is staged. With ``wait_for`` it holds the job open until
# that file exists, for at most two seconds.
_JOB = """
import os, sys, time
from pyspark.sql.types import LongType, StructField, StructType
from calaveras_uniteus_etl_spark.warehouse import Warehouse

root, n, entered, appended, wait_for = sys.argv[1:]
wh = Warehouse(None, root)
open(entered, "w").close()
with wh.job():
    wh.write_rows("t", [(int(n),)], StructType([StructField("n", LongType())]), mode="append")
    open(appended, "w").close()
    deadline = time.monotonic() + 2
    while wait_for != "-" and not os.path.exists(wait_for) and time.monotonic() < deadline:
        time.sleep(0.01)
"""


def _wait_for(path: str, proc) -> None:
    deadline = time.monotonic() + 60
    while not os.path.exists(path):
        assert proc.poll() is None and time.monotonic() < deadline, proc.communicate()
        time.sleep(0.01)


def test_overlapping_jobs_in_two_processes_keep_both_appends(tmp_path):
    """Two processes each append one row to one table in a job, the
    second job opened while the first is open. The second waits for the
    first job's commit and appends on top of it, so both rows are live;
    a second job that read the head before that commit would drop the
    first job's row from its own."""
    root, flag = str(tmp_path / "wh"), str(tmp_path / "flag")
    Warehouse(None, root).write_rows("t", [(0,)], N)
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [_REPO, os.environ.get("PYTHONPATH")]))}

    def job(n: int, wait_for: str):
        args = [root, str(n), f"{flag}.entered{n}", f"{flag}.appended{n}", wait_for]
        return subprocess.Popen([sys.executable, "-c", _JOB, *args], env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)

    first = job(1, f"{flag}.appended2")
    try:
        _wait_for(f"{flag}.appended1", first)
        second = job(2, "-")
        try:
            _wait_for(f"{flag}.entered2", second)
            outs = [p.communicate(timeout=120) for p in (first, second)]
        finally:
            second.kill()
    finally:
        first.kill()
    assert [p.returncode for p in (first, second)] == [0, 0], outs
    wh = Warehouse(None, root)
    assert sorted(wh.read_rows("t", N)["n"].to_pylist()) == [0, 1, 2]
    assert os.path.basename(wh.head()) == "c2"


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
    """Every summary taken during a tick sees all four tables at their
    pre-tick count or all four at their post-tick count."""
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    cfg = ETLConfig(input_dir=str(input_dir), warehouse_dir=str(tmp_path / "wh"), phi=PHIConfig(enabled=False))
    _delivery(input_dir, "20240101", 0, 4)
    assert not etl.ingest(spark, cfg).failed
    _delivery(input_dir, "20240201", 2, 5)  # 2 updated keys and 3 new ones per table

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
    # one commit per request: the four counts move together
    bad = [s for s in seen if set(s.values()) not in ({4}, {7})]
    assert seen and not bad, bad[:5]
    assert request(requests[0]) == [[7, 7, 7, 7]]


def test_overlapping_ingests_of_different_tables_keep_both_load_records(spark, tmp_path, monkeypatch):
    """A second ingest, of a file of another table, starts while the first
    holds its job open with its load record staged. It runs its skip check
    after the first job's commit and merges onto it, so both files keep a
    completed load record and both tables their rows, and a third ingest
    over both inputs skips both files."""
    input_dir = tmp_path / "input"
    input_dir.mkdir()
    _delivery(input_dir, "20240101", 0, 3)
    cfg = ETLConfig(input_dir=str(input_dir), warehouse_dir=str(tmp_path / "wh"), phi=PHIConfig(enabled=False))
    files = {"people": "people_20240101.txt", "cases": "cases_20240101.txt"}
    first_appended, second_appended = threading.Event(), threading.Event()
    second_locking, second_locked = threading.Event(), threading.Event()
    append_metadata, flock = etl._append_metadata, W.fcntl.flock

    def watched_flock(fd, op):
        second = threading.current_thread().name == "second"
        if second:
            second_locking.set()
        flock(fd, op)
        if second:
            second_locked.set()

    def held_append_metadata(wh, report, *args):
        append_metadata(wh, report, *args)
        if threading.current_thread().name == "second":
            second_appended.set()
            return
        first_appended.set()
        # hold the job open until the second has staged its own load
        # record, or has waited half a second for the warehouse lock
        deadline = time.monotonic() + 120
        while not second_appended.wait(0.05):
            if second_locking.is_set() and not second_locked.wait(0.5):
                break
            assert time.monotonic() < deadline

    monkeypatch.setattr(W.fcntl, "flock", watched_flock)
    monkeypatch.setattr(etl, "_append_metadata", held_append_metadata)
    reports, errors = {}, []

    def ingest(table: str) -> None:
        try:
            reports[table] = etl.ingest(spark, cfg, selected_files={files[table]})
        except Exception as e:  # noqa: BLE001 - every error fails the test
            errors.append(f"{table}: {type(e).__name__}: {e}")
            first_appended.set()

    threads = [threading.Thread(target=ingest, args=(t,), name=n, daemon=True) for t, n in (("people", "first"), ("cases", "second"))]
    threads[0].start()
    assert first_appended.wait(300)
    threads[1].start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert [len(reports[t].completed) for t in files] == [1, 1]

    wh = Warehouse(spark, cfg.warehouse_dir)
    log = wh.read_rows("etl_metadata", TABLE_SCHEMAS["etl_metadata"]).to_pylist()
    assert sorted((r["file_name"], r["status"]) for r in log) == sorted((f, "completed") for f in files.values())
    assert [wh.read(t).count() for t in files] == [3, 3]
    again = etl.ingest(spark, cfg, selected_files=set(files.values()))
    assert len(again.skipped) == 2 and not again.completed
