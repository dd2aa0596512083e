"""``Warehouse.read`` resolves each table version once: the memo keyed
by (applicationId, table path, file listing) must return the same lazy
DataFrame while the files stand still, and a fresh one after every
write that changes them."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap
import threading

from calaveras_uniteus_etl_spark import warehouse as W
from calaveras_uniteus_etl_spark.warehouse import Warehouse


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.select("id").collect())


def _entries(wh: Warehouse, table: str) -> int:
    path = os.path.abspath(wh.path(table))
    return sum(k[1] == path for k in list(W._READ_MEMO))


def test_repeat_read_hits_and_writes_miss(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.write("t", spark.range(3))
    first = wh.read("t")
    # a new Warehouse over the same root (one per CLI request) hits too
    assert wh.read("t") is first and Warehouse(spark, str(tmp_path)).read("t") is first
    assert _ids(first) == [0, 1, 2]
    wh.write("t", spark.range(10, 12))
    assert _ids(wh.read("t")) == [10, 11]
    wh.write("t", spark.range(20, 21), mode="append")
    assert _ids(wh.read("t")) == [10, 11, 20]
    assert _entries(wh, "t") == 1  # a miss drops the path's older entry


def test_read_sees_append_into_one_partition(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    base = spark.range(4).selectExpr("id", "if(id % 2 = 0, 'a', 'b') AS p")
    wh.write("t", base, partition_by=["p"])
    assert _ids(wh.read("t")) == [0, 1, 2, 3]
    more = spark.range(10, 11).selectExpr("id", "'a' AS p")
    wh.write("t", more, mode="append", partition_by=["p"])
    assert _ids(wh.read("t")) == [0, 1, 2, 3, 10]
    # new files under p=a alone, top-level _SUCCESS untouched
    spark.range(20, 21).write.mode("append").parquet(os.path.join(wh.path("t"), "p=a"))
    got = wh.read("t")
    assert _ids(got) == [0, 1, 2, 3, 10, 20]
    assert {r["p"] for r in got.filter("id = 20").collect()} == {"a"}


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


# A reader that races an overwrite can still land in the directory
# swap itself: the table is missing between the two renames, or a scan
# listed before the swap opens a file the swap deleted. Both belong to
# the write path (see ROADMAP, versioned warehouse tables), not the memo.
_SWAP_RACE = re.compile(r"FILE_NOT_EXIST|FileNotFound|NoSuchFile|PATH_NOT_FOUND|does not exist")


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
            except Exception as e:  # noqa: BLE001 - classified below
                msg = f"{type(e).__name__}: {e}"
                if not _SWAP_RACE.search(msg):
                    errors.append(msg)
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
    assert _entries(wh, "race") == 1
