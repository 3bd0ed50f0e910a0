"""Output connectors: dual-lane writes, partitioned segments, naming.

Spark-native re-expression of the reference's output surface
(SURVEY.md §2.1):

  S4  JSON/JSONL/Parquet sink      reference ``src/data_loader.py:173-199``
  S5  segment + accumulated sink   reference ``src/data_transformer.py:376-407``
  S6  incremental hub-style sink   reference ``src/data_transformer.py:420-489``
  S8  output filename templating   reference ``src/data_loader.py:143-171``
  F2  success/failure dual lanes   reference ``src/cli.py:110-117``

The reference re-writes an ever-growing "accumulated" file every
``save_interval`` rows — O(n²) bytes over a run. Spark's unit of
incremental output is the committed partition/snapshot: each ``append``
adds files atomically (rename-on-commit), so the accumulated view IS the
directory and segments need no merge step. S6's anti-dedup push is the
``left_anti`` resume join in ``operators/resume.py``.
"""

from __future__ import annotations

import re
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def output_name(task: str, dataset: str, count: int | None = None,
                ts: float | None = None) -> str:
    """S8: ``task_dataset[_count][_ts]`` — same parts as the reference's
    generate_output_filename, as a table/dir naming convention."""
    safe = lambda s: re.sub(r"[^A-Za-z0-9_.-]+", "-", s)
    parts = [safe(task), safe(dataset)]
    if count is not None:
        parts.append(str(count))
    if ts is not None:
        parts.append(time.strftime("%Y%m%d_%H%M%S", time.gmtime(ts)))
    return "_".join(parts)


def write_scored(scored: DataFrame, path: str, fmt: str = "parquet",
                 mode: str = "append", partition_by: tuple[str, ...] = ()) -> None:
    """S4/S5: one sink for the scored table. ``partition_by`` gives
    hive-style segment dirs (e.g. ('pred_lang',) or a date bucket) —
    the scalable analogue of the reference's per-interval segment files."""
    w = scored.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "json":  # JSONL: one JSON object per line, per part file
        w.json(path)
    else:
        raise ValueError(f"unsupported sink format {fmt!r}")


def publish_table(scored: DataFrame, table: str, fmt: str = "parquet",
                  checkpoint_variant: str | int | None = None,
                  partition_by: tuple[str, ...] = ()) -> str:
    """S6: publish to a governed catalog table — the external-push
    analogue of the reference's Hub upload (``src/data_transformer.py:
    420-489``, repo naming ``src/utils/dataset_utils.py:80-179``).

    Uses the V2 writer (``writeTo``): on a cluster with an Iceberg/Delta
    catalog the SAME call gives atomic snapshot commits; on the session
    catalog it creates/appends a managed table. First publish creates the
    table (with optional partitioning), later publishes append — the
    incremental semantics the reference approximates by re-uploading an
    ever-growing dataset. ``checkpoint_variant`` mirrors the reference's
    ``<repo>_checkpoint-<n>`` naming as a suffixed table. Returns the
    table name written."""
    from pyspark.errors.exceptions.captured import AnalysisException

    # the reference names Hub checkpoints '<repo>_checkpoint-<n>'; SQL
    # catalogs only allow [A-Za-z0-9_] in identifiers, so the suffix maps
    # to '_checkpoint_<n>'
    name = f"{table}_checkpoint_{checkpoint_variant}" if checkpoint_variant is not None else table
    ident = ".".join(
        p if re.fullmatch(r"\w+", p) else f"`{p}`" for p in name.split(".")
    )
    spark = scored.sparkSession
    if spark.catalog.tableExists(ident):
        try:
            scored.writeTo(ident).append()         # atomic on a v2 catalog
        except AnalysisException:
            # session-catalog (v1) tables reject the v2 writer — same
            # append semantics through the v1 path
            scored.write.mode("append").saveAsTable(ident)
    else:
        writer = scored.writeTo(ident).using(fmt)
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.create()
    return name


def write_scored_bucketed(scored: DataFrame, table: str, n_buckets: int = 64,
                          fmt: str = "parquet", mode: str = "append") -> str:
    """S5/S6 at-scale variant: the scored table as a MANAGED TABLE
    bucketed (and sorted) by ``doc_id``.

    Why bucket: the resume anti-join (operators/resume.py) re-reads the
    committed output every run. Unbucketed, both join sides shuffle on
    doc_id each time — at 100 TB the committed side's re-shuffle dwarfs
    the increment being scored. A bucketed table stores that shuffle
    ONCE at write time: scans report hash-distribution on doc_id, so the
    committed side joins with NO Exchange (verified from the plan in
    tests/test_resume.py), and two bucketed tables with matching specs
    join with no shuffle at all."""
    (scored.write.mode(mode).format(fmt)
     .bucketBy(n_buckets, "doc_id").sortBy("doc_id").saveAsTable(table))
    return table


def output_files(spark: SparkSession, path: str | None = None,
                 table: str | None = None) -> set[str]:
    """The data files committed under a parquet ``path`` or a managed
    ``table``; empty before the first write."""
    if table is not None:
        if not spark.catalog.tableExists(table):
            return set()
        spark.catalog.refreshTable(table)  # the catalog caches file listings
        return set(spark.table(table).inputFiles())
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p):
        return set()
    # a given schema skips the footer read that inference would cost
    return set(spark.read.schema("doc_id long").parquet(path).inputFiles())


def appended_files(write: Callable[[], object], spark: SparkSession,
                   path: str | None = None, table: str | None = None) -> list[str]:
    """Run ``write`` (an append to ``path`` or ``table``) and return the
    part files it committed: the output's listing after, minus before.
    Another writer appending to the same output at the same time would
    have its files counted too."""
    before = output_files(spark, path, table)
    write()
    return sorted(output_files(spark, path, table) - before)


def write_keep_drop(scored: DataFrame, out_dir: str, fmt: str = "parquet") -> None:
    """F2 dual lanes from ONE scored plan: keep/ and drop/ subdirs
    (reference writes successful.jsonl / failed.jsonl). Caller should
    cache ``scored`` if both lanes are materialized in the same action
    window; at scale prefer the single-table write with the ``keep``
    column and let readers filter (zero extra pass)."""
    write_scored(scored.filter(F.col("keep")), f"{out_dir}/keep", fmt)
    write_scored(scored.filter(~F.col("keep")), f"{out_dir}/drop", fmt)
