"""Partitioned layout: a hive-partitioned fact table joined to a filtered
dim is read through dynamic partition pruning, checked in Spark's
executed plan."""

from __future__ import annotations


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Dynamic partition pruning: a fact table hive-partitioned by a
    key joined to a FILTERED small dim must carry a
    dynamicpruningexpression on the partition column in the physical
    plan — Catalyst turns the dim filter into a runtime partition
    filter, so un-probed fact directories are never scanned. This is
    the at-scale mechanism that makes dim-filtered star joins read
    n_match/n_partitions of the fact bytes."""
    from pyspark.sql import functions as F

    fact_path = str(tmp_path / "fact")
    spark.range(2000).select(
        F.col("id"), (F.col("id") % 10).alias("pk")
    ).write.partitionBy("pk").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.range(10).select(
        F.col("id").alias("pk"), (F.col("id") * 11).alias("attr")
    ).filter(F.col("attr") < 30)    # keeps pk in {0, 1, 2}
    joined = fact.join(dim, "pk").agg(F.count("*").alias("n"))
    plan = joined._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in plan, plan[:2000]
    assert joined.collect()[0]["n"] == 600
