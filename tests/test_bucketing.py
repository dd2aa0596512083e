"""Partitioned layout: a year-partitioned fact that Spark wrote, joined
to a filtered dimension, must get a runtime dynamic-pruning subquery.
"""

from __future__ import annotations


def test_partitioned_fact_join_triggers_dpp(spark, tmp_path):
    """Dynamic partition pruning: joining a year-partitioned fact with
    a selectively filtered dimension must inject a dynamicpruning
    subquery on the partition column, so only matching partitions are
    scanned at runtime — the runtime variant of static pruning (m9's
    zone maps) that Catalyst plans when the predicate arrives via a join."""
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
