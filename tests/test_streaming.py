"""Structured Streaming surface tests.

Covers: exactly-once file ingest through the one batch load path
(``etl.ingest``: (file_name, md5) skip check plus merge upsert),
watermarked tumbling windows matching the batch plan, built-in session
windows matching gap-and-island, and the applyInPandasWithState
sessionizer holding state across separate runs of the same
checkpointed query.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest

from pyspark.sql import functions as F

from calaveras_uniteus_etl_spark.config import ETLConfig, PHIConfig
from calaveras_uniteus_etl_spark.etl import ingest
from calaveras_uniteus_etl_spark.schema import TABLE_SCHEMAS
from calaveras_uniteus_etl_spark.sources.discovery import TaskStatus
from calaveras_uniteus_etl_spark.streaming import (
    session_window_agg,
    sessionize_with_state,
    windowed_agg,
)
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


def _events_df(spark, rows):
    return spark.createDataFrame(
        [(i, ts, uid, et, float(v)) for i, (ts, uid, et, v) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )


@pytest.fixture()
def small_events(spark):
    t0 = dt.datetime(2024, 3, 1, 0, 30, tzinfo=UTC)
    rows = []
    for h in range(0, 48, 2):  # every 2h over 2 days, 2 users, 2 types
        ts = t0 + dt.timedelta(hours=h)
        rows.append((ts, 1, "click", 1.5))
        rows.append((ts + dt.timedelta(minutes=10), 2, "view", 2.25))
    return _events_df(spark, rows)


def test_windowed_agg_stream_matches_batch(spark, small_events, tmp_path):
    src = str(tmp_path / "events_parquet")
    small_events.write.parquet(src)

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_agg(small_events).collect()
    }

    stream = spark.readStream.schema(small_events.schema).parquet(src)
    q = (
        windowed_agg(stream)
        .writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_session_window_matches_gap_and_island(spark, small_events):
    # gap-and-island reference implementation (same as s2_sessionization)
    from pyspark.sql.window import Window

    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(order))
    sess_counts = (
        small_events.withColumn(
            "new_s",
            F.when(gap_us.isNull() | (gap_us > 6 * 3600 * 1_000_000), 1).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_s").alias("n_sessions"))
    )
    expect = {r["user_id"]: r["n_sessions"] for r in sess_counts.collect()}

    got_rows = session_window_agg(small_events).collect()
    got: dict[int, int] = {}
    for r in got_rows:
        got[r["user_id"]] = got.get(r["user_id"], 0) + 1
    assert got == expect
    # every event accounted for
    assert sum(r["n_events"] for r in got_rows) == small_events.count()


def test_sessionize_with_state_across_runs(spark, tmp_path):
    src = tmp_path / "stream_src"
    src.mkdir()
    sink = str(tmp_path / "sessions_out")
    ckpt = str(tmp_path / "sess_ckpt")
    t0 = dt.datetime(2024, 3, 1, 8, 0, tzinfo=UTC)

    def run_once():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).parquet(str(src))
        q = (
            sessionize_with_state(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # run 1: one user, two events 1h apart — session stays open, nothing emitted
    _events_df(spark, [(t0, 7, "click", 1.0), (t0 + dt.timedelta(hours=1), 7, "click", 1.0)]) \
        .coalesce(1).write.mode("append").parquet(str(src))
    run_once()
    spark_read = lambda: spark.read.schema(
        "user_id long, session_start timestamp, session_end timestamp, n_events long"
    ).parquet(sink)
    assert spark_read().count() == 0

    # run 2: an event 20h later closes the run-1 session (state survived
    # the restart via the checkpoint) and is emitted exactly once
    _events_df(spark, [(t0 + dt.timedelta(hours=21), 7, "click", 1.0)]) \
        .coalesce(1).write.mode("append").parquet(str(src))
    run_once()
    rows = spark_read().collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 7 and r["n_events"] == 2
    assert (r["session_end"] - r["session_start"]) == dt.timedelta(hours=1)


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


def test_watermark_drops_late_rows_across_triggers(spark, tmp_path):
    """Late-data semantics, not just parity: a row arriving in a later
    trigger with event time older than (max seen - watermark) must be
    DROPPED from the append-mode windowed aggregate, while a second
    batch's on-time rows still emit. Two availableNow runs over one
    checkpoint make the watermark actually advance between arrivals —
    a single-batch test can never exercise eviction. The sink is a
    parquet directory (memory sinks cannot recover a checkpoint), so
    the cumulative output also proves each window emits exactly once.
    """
    import datetime as dt

    from calaveras_uniteus_etl_spark.streaming.windows import windowed_agg

    src = tmp_path / "late_src"
    src.mkdir()
    ckpt = str(tmp_path / "late_ckpt")
    out_dir = str(tmp_path / "late_out")
    schema = "event_id long, ts timestamp, event_type string, value double"
    t0 = dt.datetime(2024, 5, 1, 0, 0)

    def run_trigger():
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (
            windowed_agg(stream, window="1 hour", watermark="1 hour")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r["window_start"], r["event_type"], r["n_events"])
            for r in spark.read.parquet(out_dir).collect()
        )

    # Trigger 1: events up to t0+10h. Watermark after this batch is
    # 10:00 - 1h = 09:00, so windows ending <= 09:00 are final.
    spark.createDataFrame(
        [
            (1, t0 + dt.timedelta(hours=1), "click", 1.0),
            (2, t0 + dt.timedelta(hours=1, minutes=30), "click", 1.0),
            (3, t0 + dt.timedelta(hours=10), "view", 1.0),
        ],
        schema,
    ).write.mode("append").parquet(str(src))
    out1 = run_trigger()
    # the 01:00 window is final (ends 02:00 <= 09:00 watermark) → emitted
    assert (t0 + dt.timedelta(hours=1), "click", 2) in out1

    # Trigger 2: one LATE row into the already-finalized 01:00 window
    # (event time 01:45 < 09:00 watermark) and one on-time row that
    # pushes the clock forward so the 10:00 view window finalizes.
    spark.createDataFrame(
        [
            (4, t0 + dt.timedelta(hours=1, minutes=45), "click", 1.0),
            (5, t0 + dt.timedelta(hours=20), "view", 1.0),
        ],
        schema,
    ).write.mode("append").parquet(str(src))
    out2 = run_trigger()

    # The late click was dropped: the 01:00 window still shows exactly
    # one emission with n=2 (no re-emit, no n=1/n=3 sibling)...
    clicks = [r for r in out2 if r[0] == t0 + dt.timedelta(hours=1)]
    assert clicks == [(t0 + dt.timedelta(hours=1), "click", 2)]
    # ...and the on-time 10:00 view emitted exactly once.
    views10 = [r for r in out2 if r[0] == t0 + dt.timedelta(hours=10)]
    assert views10 == [(t0 + dt.timedelta(hours=10), "view", 1)]


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


def test_ewma_with_state_matches_batch_twin(spark, tmp_path):
    """Two-trigger availableNow run of the stateful EWMA operator must
    end bit-identical to the batch-twin window plan over the union of
    both batches — including a user who only crosses the depth-8 gate
    because state carried their first batch's purchases across the
    restart. Non-purchase events must not perturb the average."""
    from calaveras_uniteus_etl_spark.plans import REGISTRY
    from calaveras_uniteus_etl_spark.streaming import ewma_with_state

    t0 = dt.datetime(2024, 6, 1, 12, 0, tzinfo=UTC)
    rows = []
    for i in range(12):  # user 1: 12 purchases → emitted
        rows.append((t0 + dt.timedelta(hours=i), 1, "purchase", 10.07 + 3.5 * i))
        rows.append((t0 + dt.timedelta(hours=i, minutes=5), 1, "click", 999.99))
    for i in range(10):  # user 2: 5 purchases in each batch → gate
        et = "purchase" if i % 2 == 0 else "view"
        rows.append((t0 + dt.timedelta(hours=i), 2, et, 250.01 + i))
        rows.append((t0 + dt.timedelta(hours=24 + i), 2, et, 17.5 * (i + 1)))
    for i in range(3):  # user 3: under the gate forever → never emitted
        rows.append((t0 + dt.timedelta(hours=i), 3, "purchase", 5.25))
    all_events = _events_df(spark, rows)

    # batch twin over the full event set, via the registered query
    batch_dir = tmp_path / "s7_batch"
    all_events.write.parquet(str(batch_dir / "events.parquet"))
    twin = {
        r["user_id"]: (r["n_purchases"], r["last_value"], r["ewma"])
        for r in REGISTRY["s7_ewma_drift"].fn(spark, str(batch_dir)).collect()
    }
    assert set(twin) == {1, 2}

    # streaming: same events split at the 24h mark, two restarts on one
    # checkpoint so user 2's gate crossing depends on persisted state
    src = tmp_path / "ewma_src"
    src.mkdir()
    sink = str(tmp_path / "ewma_out")
    ckpt = str(tmp_path / "ewma_ckpt")
    cut = t0 + dt.timedelta(hours=24)

    def run_once():
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        ).parquet(str(src))
        q = (
            ewma_with_state(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    all_events.filter(F.col("ts") < cut).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    run_once()
    all_events.filter(F.col("ts") >= cut).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    run_once()

    out = spark.read.schema(
        "user_id long, n_purchases long, last_value double, ewma double"
    ).parquet(sink)
    # last emission per user = the state after all events
    final = {
        r["user_id"]: (r["n_purchases"], r["last_value"], r["ewma"])
        for r in sorted(out.collect(), key=lambda r: r["n_purchases"])
    }
    assert 3 not in final  # never crossed the depth gate
    assert final == twin  # bit-identical doubles, not approx


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
