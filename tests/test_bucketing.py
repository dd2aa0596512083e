"""Partitioned table layout: static and dynamic partition pruning.

A month-partitioned warehouse write must let a month filter prune
directories at scan time, and a year-partitioned fact joined to a
filtered dimension must get a runtime dynamic-pruning subquery.
"""

from __future__ import annotations


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Date-partitioned fact writes must give partition pruning: a
    month-filtered read shows the predicate under PartitionFilters and
    scans only that month's directory — the difference between reading
    a day and reading 100 TB of history."""
    from calaveras_uniteus_etl_spark.warehouse import Warehouse
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ev = spark.range(0, 3000).selectExpr(
        "id AS event_id",
        "timestampadd(HOUR, cast(id % 2160 as int), TIMESTAMP '2024-01-01 00:00:00') AS ts",
        "id % 97 AS user_id",
    ).withColumn("month", F.date_format("ts", "yyyy-MM"))
    wh.write("events_part", ev, partition_by=["month"])

    df = wh.read("events_part").filter(F.col("month") == "2024-02")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "month" in pf[0], plan
    assert df.count() == ev.filter(F.col("month") == "2024-02").count() > 0

    # directory layout really is one subdir per month
    import os

    months = [d for d in os.listdir(wh.path("events_part")) if d.startswith("month=")]
    assert len(months) == 3  # Jan, Feb, Mar (2160 h = 90 days)


def test_partitioned_fact_join_triggers_dpp(spark, tmp_path):
    """Dynamic partition pruning: joining a year-partitioned fact with
    a selectively filtered dimension must inject a dynamicpruning
    subquery on the partition column, so only matching partitions are
    scanned at runtime — the other half of the layout story beside
    static pruning (m9's zone maps and the test above; DPP is the runtime
    variant Catalyst plans when the predicate arrives via a join)."""
    fact_dir = str(tmp_path / "fact_by_year")
    spark.range(0, 2000).selectExpr(
        "id AS o_key",
        "cast(1995 + id % 8 as int) AS o_year",
        "cast(id % 100 as double) AS o_val",
    ).write.partitionBy("o_year").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.range(0, 8).selectExpr(
        "cast(1995 + id as int) AS d_year", "id AS d_rank"
    ).filter("d_year IN (1996, 1999)")
    joined = fact.join(dim, fact.o_year == dim.d_year)
    optimized = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in optimized, optimized
    # and the result only touches the two matching partitions
    assert joined.count() == 500
    years = [r["o_year"] for r in joined.select("o_year").distinct().collect()]
    assert sorted(years) == [1996, 1999]
