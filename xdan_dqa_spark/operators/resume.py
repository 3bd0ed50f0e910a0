"""Snapshot/checkpoint resume via id anti-join (J1) + last-wins dedup (J2).

The reference resumes positionally — it counts previously-pushed rows and
skips that many input items (``src/data_transformer.py:320-341``), which
breaks if input order shifts. It also anti-dedups against already-pushed
ids before the final Hub push (``src/data_transformer.py:458-473``) and
merge-dedups segments last-wins by id (``_merge_items``
``src/data_transformer.py:303-311``).

Our resume is content-addressed and order-independent: committed output
is the checkpoint; the next run anti-joins input ids against it and
scores only the remainder. Parquet-append commits are atomic per file,
so a killed run leaves only whole committed partitions behind (the
Iceberg-snapshot analogue at sandbox scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def committed_ids(spark: SparkSession, output_path: str) -> DataFrame | None:
    """ids already present in the committed output; None if no snapshot."""
    try:
        return spark.read.parquet(output_path).select("doc_id")
    except Exception:  # AnalysisException: path missing / empty — fresh run
        return None


def committed_ids_table(spark: SparkSession, table: str) -> DataFrame | None:
    """Committed ids from a BUCKETED managed table (see
    sinks.write_scored_bucketed): the scan carries hash-distribution on
    doc_id, so the resume anti-join needs no Exchange on this side —
    the committed set's shuffle was paid once at write time, not once
    per resume."""
    if not spark.catalog.tableExists(table):
        return None
    return spark.table(table).select("doc_id")


def resume_filter(input_df: DataFrame, committed: DataFrame | None) -> DataFrame:
    """J1: drop rows whose id is already committed (left_anti on doc_id).

    The committed-id set is small relative to input at 100 TB *per run
    increment*, but can be large in absolute terms — leave the join
    strategy to AQE (it broadcasts when the id set is small, falls back
    to shuffled hash otherwise)."""
    if committed is None:
        return input_df
    return input_df.join(committed, "doc_id", "left_anti")


def last_wins_dedup(df: DataFrame, id_col: str = "doc_id",
                    order_col: str = "warc_ts") -> DataFrame:
    """J2: keep the latest row per id (window row_number, not groupBy-max,
    so the whole row survives)."""
    w = Window.partitionBy(id_col).orderBy(F.col(order_col).desc_nulls_last())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
