"""``Warehouse.read`` resolves each table version once: the memo keyed
by (applicationId, version directory) must return the same lazy
DataFrame for a version without touching its files, and a fresh one
after every write, which commits a new version. A miss takes its schema
from a file footer, with no Spark job, and drops the entries of pruned
versions."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import threading
import uuid

from calaveras_uniteus_etl_spark import warehouse as W
from calaveras_uniteus_etl_spark.schema import TABLE_SCHEMAS
from calaveras_uniteus_etl_spark.warehouse import RETAINED_VERSIONS, Warehouse


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.select("id").collect())


def _entries(wh: Warehouse, table: str) -> list[str]:
    """The version directories of ``table`` that the memo holds."""
    versions = os.path.realpath(os.path.join(wh.root, "_versions", table)) + os.sep
    return [k[1] for k in list(W._READ_MEMO) if k[1].startswith(versions)]


def test_repeat_read_hits_and_writes_miss(spark, tmp_path, monkeypatch):
    wh = Warehouse(spark, str(tmp_path))
    wh.write("t", spark.range(3))
    first = wh.read("t")
    with monkeypatch.context() as m:
        m.setattr(W, "_data_files", None)  # a hit lists no file
        # a new Warehouse over the same root (one per CLI request) hits too
        assert wh.read("t") is first and Warehouse(spark, str(tmp_path)).read("t") is first
    assert _ids(first) == [0, 1, 2]
    wh.write("t", spark.range(10, 12))
    assert _ids(wh.read("t")) == [10, 11]
    wh.write("t", wh.read("t").union(spark.range(20, 21)))
    assert _ids(wh.read("t")) == [10, 11, 20]
    wh.write("t", spark.range(30, 31))  # prunes the first version
    assert _ids(wh.read("t")) == [30]
    # a miss drops the pruned version's entry
    entries = _entries(wh, "t")
    assert len(entries) == RETAINED_VERSIONS + 1 and all(os.path.isdir(v) for v in entries)


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_miss_takes_the_footer_schema_without_a_job(spark, tmp_path):
    """A miss on a version Spark wrote, one Spark wrote from an empty
    frame, or one the row writer wrote, plans with the schema Spark's
    inference would give, and runs no job."""
    wh = Warehouse(spark, str(tmp_path))
    wh.write("t", spark.range(3))
    wh.write("cases", spark.createDataFrame([], TABLE_SCHEMAS["cases"]))
    wh.write_rows("etl_metadata", [("f", "t", "20240101", "h", 1, 1, 0, "completed", None, "manual", None, None)],
                  TABLE_SCHEMAS["etl_metadata"])
    for table in ("t", "cases", "etl_metadata"):
        df, jobs = _jobs(spark, lambda: wh.read(table))
        assert jobs == 0, table
        assert df.schema == spark.read.parquet(os.path.realpath(wh.path(table))).schema
    for table in ("cases", "etl_metadata"):
        assert [f.dataType for f in wh.read(table).schema] == [f.dataType for f in TABLE_SCHEMAS[table]]
    assert _ids(wh.read("t")) == [0, 1, 2]


def test_restarted_session_never_reuses_an_entry(tmp_path):
    """Stop and restart Spark in a child process (the suite's session
    must stay up): the new session misses, reads, and evicts the dead
    session's entry."""
    prog = textwrap.dedent(f"""
        from calaveras_uniteus_etl_spark import warehouse as W
        from calaveras_uniteus_etl_spark.session import get_spark
        s = get_spark(master="local[1]", shuffle_partitions=1)
        W.Warehouse(s, {str(tmp_path)!r}).write("t", s.range(3))
        first = W.Warehouse(s, {str(tmp_path)!r}).read("t")
        s.stop()
        s = get_spark(master="local[1]", shuffle_partitions=1)
        second = W.Warehouse(s, {str(tmp_path)!r}).read("t")
        assert second is not first and second.count() == 3
        assert [k[0] for k in W._READ_MEMO] == [s.sparkContext.applicationId]
        print("RESTART_OK")
    """)
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(__file__)))
    res = subprocess.run([sys.executable, "-c", prog], capture_output=True, text=True, env=env)
    assert "RESTART_OK" in res.stdout, res.stderr[-3000:]


def test_concurrent_readers_see_old_or_new_rows(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    versions = [list(range(v * 100, v * 100 + 5)) for v in range(6)]
    wh.write("race", spark.createDataFrame([(i,) for i in versions[0]], "id long"))
    done = threading.Event()
    seen: list[list[int]] = []
    last: list[list[int]] = []
    errors: list[str] = []

    def reader():
        while not done.is_set():
            try:
                seen.append(_ids(wh.read("race")))
            except Exception as e:  # noqa: BLE001 - every error fails the test
                errors.append(f"{type(e).__name__}: {e}")
        last.append(_ids(wh.read("race")))  # writes are over: must not fail

    threads = [threading.Thread(target=reader) for _ in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for ids in versions[1:]:
            wh.write("race", spark.createDataFrame([(i,) for i in ids], "id long"))
    finally:
        done.set()
        for t in threads:
            t.join(timeout=300)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert all(ids in versions for ids in seen), seen
    assert last == [versions[-1]] * 4
    entries = _entries(wh, "race")
    assert 1 <= len(entries) <= RETAINED_VERSIONS + 1 and all(os.path.isdir(v) for v in entries)
