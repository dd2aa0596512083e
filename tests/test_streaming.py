"""Structured Streaming surface tests.

Covers: exactly-once file ingest through the one batch load path
(``etl.ingest``: (file_name, md5) skip check plus merge upsert), the
stream-stream interval join (inner and left outer) matching its batch
plan, watermarked stream dedup, the s6 foreachBatch leaderboard and the
s9 incremental sessionization.
"""

from __future__ import annotations

import datetime as dt
import hashlib

from pyspark.sql import functions as F

from calaveras_uniteus_etl_spark.config import ETLConfig, PHIConfig
from calaveras_uniteus_etl_spark.etl import ingest
from calaveras_uniteus_etl_spark.schema import TABLE_SCHEMAS
from calaveras_uniteus_etl_spark.sources.discovery import TaskStatus
from calaveras_uniteus_etl_spark.warehouse import Warehouse

UTC = dt.timezone.utc


def _write_people_file(path, rows: list[dict]) -> None:
    """Pipe-delimited file with the full declared people column set."""
    cols = [f.name for f in TABLE_SCHEMAS["people"].fields]
    with open(path, "w") as f:
        f.write("|".join(cols) + "\n")
        for row in rows:
            f.write("|".join(str(row.get(c, "")) for c in cols) + "\n")


def _phi(value: str) -> str:
    """The reference's PHI hash under the default salt."""
    salt = PHIConfig().salt
    return hashlib.sha256(f"{salt}{value}{salt}".encode()).hexdigest()


def test_stream_ingest_exactly_once_with_upsert(spark, tmp_path):
    """Each delivered file loads exactly once: a re-run skips the files
    already recorded in etl_metadata and merges only the new one."""
    inp = tmp_path / "in"
    inp.mkdir()
    cfg = ETLConfig(input_dir=str(inp), warehouse_dir=str(tmp_path / "wh"))
    wh = Warehouse(spark, cfg.warehouse_dir)

    _write_people_file(
        inp / "people_20240101.txt",
        [
            {"person_id": "p1", "first_name": "Ann"},
            {"person_id": "p2", "first_name": "Bob"},
            # PHI is hashed, and a row without its key is dropped
            {"first_name": "Nobody"},
        ],
    )
    _write_people_file(inp / "people_20240102.txt", [{"person_id": "p3", "first_name": "Cal"}])
    first = ingest(spark, cfg)
    assert [t.status for t in first.tasks] == [TaskStatus.COMPLETED] * 2
    got = {r["person_id"] for r in wh.read("people").collect()}
    assert got == {_phi("p1"), _phi("p2"), _phi("p3")}

    # second run: only the new file loads (a and b are skipped), and the
    # shared key p2 is updated, not duplicated
    _write_people_file(
        inp / "people_20240103.txt",
        [{"person_id": "p2", "first_name": "Bea"}, {"person_id": "p4"}],
    )
    second = ingest(spark, cfg)
    assert sorted(t.file_name for t in second.skipped) == [
        "people_20240101.txt", "people_20240102.txt"
    ]
    [c] = second.completed
    assert (c.file_name, c.rows_inserted, c.rows_updated) == ("people_20240103.txt", 1, 1)
    out = {r["person_id"]: r["first_name"] for r in wh.read("people").collect()}
    assert out == {
        _phi(k): v and _phi(v)
        for k, v in {"p1": "Ann", "p2": "Bea", "p3": "Cal", "p4": None}.items()
    }


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    from calaveras_uniteus_etl_spark.streaming.windows import interval_join

    t0 = dt.datetime(2024, 4, 1, 9, 0, tzinfo=UTC)
    clicks = spark.createDataFrame(
        [(1, t0), (1, t0 + dt.timedelta(hours=3)), (2, t0 + dt.timedelta(minutes=10))],
        "user_id long, l_ts timestamp",
    )
    buys = spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(minutes=30)),   # within 1h of click 1 → match
            (1, t0 + dt.timedelta(hours=5)),      # >1h after click 2 → no match
            (2, t0 + dt.timedelta(minutes=40)),   # within 1h of user-2 click → match
        ],
        "user_id long, r_ts timestamp",
    )
    expect = sorted(
        (r["user_id"], r["l_ts"], r["r_ts"])
        for r in interval_join(clicks, buys).collect()
    )
    assert len(expect) == 2

    cdir, bdir = str(tmp_path / "clicks"), str(tmp_path / "buys")
    clicks.write.parquet(cdir)
    buys.write.parquet(bdir)
    cs = spark.readStream.schema(clicks.schema).parquet(cdir)
    bs = spark.readStream.schema(buys.schema).parquet(bdir)
    q = (
        interval_join(cs, bs)
        .writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["user_id"], r["l_ts"], r["r_ts"])
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    )
    assert got == expect


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Exactly-once event dedup on a stream: dropDuplicatesWithinWatermark
    keeps the first arrival of each event_id even when the duplicate
    lands in a later micro-batch inside the watermark window."""
    src = tmp_path / "dedup_src"
    src.mkdir()
    sink = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    t0 = dt.datetime(2024, 5, 1, 12, 0, tzinfo=UTC)

    def run_once():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).parquet(str(src))
        q = (
            stream.withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    df1 = spark.createDataFrame(
        [(100, t0, 1, "click", 1.0), (101, t0 + dt.timedelta(minutes=5), 1, "view", 2.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    df1.coalesce(1).write.mode("append").parquet(str(src))
    run_once()
    # duplicate of 100 arrives in a later run, still within the watermark
    df2 = spark.createDataFrame(
        [(100, t0 + dt.timedelta(minutes=10), 1, "click", 1.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    df2.coalesce(1).write.mode("append").parquet(str(src))
    run_once()
    out = spark.read.schema(df1.schema).parquet(sink)
    ids = sorted(r["event_id"] for r in out.collect())
    assert ids == [100, 101]


def test_interval_join_rejects_ambiguous_extra(spark):
    """An `extra` passthrough column present on BOTH sides must raise,
    not silently resolve to the left side."""
    import pytest as _pytest

    from calaveras_uniteus_etl_spark.streaming.windows import interval_join

    t0 = dt.datetime(2024, 4, 1, 9, 0, tzinfo=UTC)
    l = spark.createDataFrame(
        [(1, t0, "a")], "user_id long, l_ts timestamp, payload string"
    )
    r = spark.createDataFrame(
        [(1, t0, "b")], "user_id long, r_ts timestamp, payload string"
    )
    with _pytest.raises(ValueError, match="both sides"):
        interval_join(l, r, extra=("payload",))
    with _pytest.raises(ValueError, match="neither side"):
        interval_join(l, r, extra=("missing_col",))
    # unambiguous extras still pass through from their side
    out = interval_join(l, r.withColumnRenamed("payload", "r_payload"),
                        extra=("payload", "r_payload")).collect()
    assert [(x.payload, x.r_payload) for x in out] == [("a", "b")]


def test_s6_leaderboard_foreachbatch_matches_batch(spark, tmp_path):
    """s6's serving pattern: windowed counts maintained by the stream,
    top-k re-ranked per trigger in foreachBatch. With availableNow over
    a static source the final leaderboard must equal the batch plan on
    the same rows."""
    from pyspark.sql.window import Window

    t0 = dt.datetime(2024, 4, 1, 0, 0, tzinfo=UTC)
    rows = [
        (i, t0 + dt.timedelta(hours=i % 18), ["a", "b", "b", "c", "c", "c"][i % 6])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    src = str(tmp_path / "s6_src")
    df.write.parquet(src)

    def leaderboard(frame):
        counted = (
            frame.groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
        )
        w = Window.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.asc("event_type")
        )
        return (
            counted.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 2)
        )

    expect = {
        (r.window_start, r.event_type, r.n_events, r.rnk)
        for r in leaderboard(df).collect()
    }

    out: dict[str, set] = {}
    stream = spark.readStream.schema(df.schema).parquet(src)
    agg = (
        stream.groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )

    def sink(batch, _bid):
        # complete-mode batch carries the full windowed counts; the
        # rank runs HERE (rank inside a streaming agg is unsupported)
        w = Window.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.asc("event_type")
        )
        out["rows"] = {
            (r.window_start, r.event_type, r.n_events, r.rnk)
            for r in batch.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 2)
            .collect()
        }

    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "s6_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert out["rows"] == expect


def test_left_outer_interval_join_emits_orphans_after_watermark(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join semantics: a matched pair
    emits as soon as both sides arrive, but an UNMATCHED left row must
    be withheld until the watermark passes the end of its join interval
    (a match could still arrive), then emit exactly once with nulls.
    Two availableNow triggers over one checkpoint make the watermark
    actually advance between arrivals."""
    from calaveras_uniteus_etl_spark.streaming.windows import interval_join

    t0 = dt.datetime(2024, 7, 1, 9, 0, tzinfo=UTC)
    lsrc = tmp_path / "lo_clicks"
    rsrc = tmp_path / "lo_buys"
    lsrc.mkdir(); rsrc.mkdir()
    sink = str(tmp_path / "lo_out")
    ckpt = str(tmp_path / "lo_ckpt")
    lschema = "user_id long, l_ts timestamp"
    rschema = "user_id long, r_ts timestamp"

    def run_once():
        l = spark.readStream.schema(lschema).parquet(str(lsrc))
        r = spark.readStream.schema(rschema).parquet(str(rsrc))
        q = (
            interval_join(l, r, max_gap="30 minutes", watermark="1 hour",
                          how="left_outer")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r["user_id"], r["r_ts"] is not None)
            for r in spark.read.schema(
                "user_id long, l_ts timestamp, r_ts timestamp"
            ).parquet(sink).collect()
        )

    # trigger 1: user 1 click+purchase (match), user 2 click (no match yet)
    spark.createDataFrame(
        [(1, t0), (2, t0)], lschema
    ).coalesce(1).write.mode("append").parquet(str(lsrc))
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=10))], rschema
    ).coalesce(1).write.mode("append").parquet(str(rsrc))
    out1 = run_once()
    # the match emits; user 2's orphan is withheld (its interval could
    # still be matched — watermark has not passed t0+30min)
    assert out1 == [(1, True)], out1

    # trigger 2: far-future rows on BOTH inputs (the join watermark is
    # the MIN across inputs — advancing one side alone pins it) push
    # the watermark past user 2's interval end, and the orphan emits
    # with a null right side, exactly once. The t0+3h click stays
    # withheld in turn (its own interval is not yet past watermark),
    # so the outer join's completeness is eventual, never speculative.
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(hours=3))], lschema
    ).coalesce(1).write.mode("append").parquet(str(lsrc))
    spark.createDataFrame(
        [(99, t0 + dt.timedelta(hours=3))], rschema
    ).coalesce(1).write.mode("append").parquet(str(rsrc))
    out2 = run_once()
    assert out2 == [(1, True), (2, False)], out2


def test_s9_equals_full_batch_sessionization(spark):
    """The incremental path must reproduce g2's full-batch census
    EXACTLY — same buckets, same counts, same durations. This is the
    boundary-handoff proof at the DataFrame level (the driver's hash
    check proves it against DuckDB too)."""
    from calaveras_uniteus_etl_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    full = {
        r["bucket"]: (r["n_sessions"], r["n_events"], r["avg_dur_us"])
        for r in REGISTRY["g2_session_windows"].fn(spark, sf).collect()
    }
    incr = {
        r["bucket"]: (r["n_sessions"], r["n_events"], r["avg_dur_us"])
        for r in REGISTRY["s9_incremental_sessionize"].fn(spark, sf).collect()
    }
    assert incr == full


def test_s9_conserves_events(spark):
    """Every event lands in exactly one session: bucket-census event
    totals must sum to the raw event count."""
    from calaveras_uniteus_etl_spark.plans import REGISTRY
    from calaveras_uniteus_etl_spark.plans.tables import table

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["s9_incremental_sessionize"].fn(spark, sf).collect()
    n_total = table(spark, sf, "events").count()
    assert sum(r["n_events"] for r in rows) == n_total
