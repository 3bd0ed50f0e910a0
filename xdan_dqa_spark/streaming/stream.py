"""Structured Streaming wrappers for the quality pipeline.

The reference's closest analogues are the bounded streaming iterator
(``src/utils/dataset_utils.py:227-236``) and the incremental
checkpoint/segment loop (``src/data_transformer.py:362-392``) — both
hand-rolled, positional, single-process. Here the same capabilities are
Spark Structured Streaming:

* ``score_stream`` — continuous (or catch-up ``availableNow``) scoring of
  a growing webtext directory via ``foreachBatch``; the streaming
  checkpoint tracks which input files are done, so restarts never
  re-score committed batches (the streaming twin of the batch anti-join
  resume in ``operators/resume.py``).
* ``windowed_metrics_stream`` — event-time (warc_ts) windowed intake
  metrics with a watermark for late-arriving crawl records; append mode
  emits only finalized windows.

Both run the identical deterministic scoring stack as the batch job — a
micro-batch is just a DataFrame, so ``score_webtext`` is reused verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.metrics import run_readback
from ..operators.score import QualityConfig
from ..pipeline import score_webtext, with_doc_id
from ..schemas import WEBTEXT_SCHEMA
from ..sources.sinks import appended_files


def webtext_stream(spark: SparkSession, input_dir: str,
                   max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over a webtext parquet directory. The schema is
    pinned (streaming sources cannot infer), and ``maxFilesPerTrigger``
    bounds micro-batch size the way the reference's ``batch_size`` did."""
    reader = spark.readStream.schema(WEBTEXT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_dir)


def score_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: QualityConfig | None = None,
    available_now: bool = True,
    run_id: str = "stream",
) -> StreamingQuery:
    """Score every new file that lands in ``input_dir``; append scored rows
    + per-partition lineage under ``output_dir``. Each micro-batch is
    scored once: its lineage is read back from the part files its write
    committed. Restart-safe via the streaming checkpoint (exactly-once
    file tracking + idempotent appends).
    """
    cfg = cfg or QualityConfig()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        scored = score_webtext(with_doc_id(batch_df), cfg)
        out = f"{output_dir}/scored"
        written = appended_files(lambda: scored.write.mode("append").parquet(out),
                                 spark, path=out)
        if written:
            # this batch's files only: a micro-batch never re-reads older ones
            batch = spark.read.schema(scored.schema).parquet(*written)
            lineage = run_readback(batch, written, f"{run_id}-b{batch_id}").lineage
            lineage.write.mode("append").parquet(f"{output_dir}/metrics")

    writer = (
        webtext_stream(spark, input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _windowed_agg(spark: SparkSession, input_dir: str, window: str,
                  watermark: str) -> DataFrame:
    """Shared event-time aggregate: docs + mean length per (warc_ts
    window, lang), watermarked for late crawl records."""
    return (
        webtext_stream(spark, input_dir)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.avg(F.length("text")).alias("avg_text_len"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang", "n_docs", "avg_text_len",
        )
    )


def windowed_metrics_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Event-time intake metrics: docs + mean length per (warc_ts window,
    lang). The watermark bounds state for late crawl records; append mode
    writes a window only once it can no longer receive data."""
    agg = _windowed_agg(spark, input_dir, window, watermark)
    writer = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_metrics_update_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Update-mode twin of ``windowed_metrics_stream``: every micro-batch,
    each CHANGED window's current aggregate is appended to parquet stamped
    with the batch id — so still-open windows are observable before the
    watermark finalizes them, with NO driver-resident state (the job the
    oracle's complete-mode memory sink does only at fixture scale;
    a complete-mode sink would be driver-resident and rewrite-everything
    at 100 TB, update mode ships deltas only). Batch ids are monotonic
    across restarts of the same checkpoint, so ``latest_windowed_metrics``
    (last-wins per window) is restart-safe and exactly-once at read time
    even when a killed run re-emits its last batch."""
    agg = _windowed_agg(spark, input_dir, window, watermark)

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("_batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(output_dir)

    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(emit)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "24 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming exact-dedup ingest: drop any incoming doc whose content
    hash was already emitted within the event-time watermark horizon —
    the continuous twin of ``exact_dedup`` for a crawl feed that revisits
    pages (the same page body recrawled hours apart must not be ingested
    twice).

    ``dropDuplicatesWithinWatermark`` keys the state store on the md5
    content hash; the ``warc_ts`` watermark BOUNDS that state (a plain
    streaming ``dropDuplicates`` would grow state forever on an unbounded
    crawl — the 100 TB killer), evicting hashes once no in-horizon
    arrival can duplicate them. State lives in the checkpoint's state
    store, so restarts resume exactly-once: a doc deduped before the
    restart stays deduped after it (pytest-pinned)."""
    src = webtext_stream(spark, input_dir).withColumn(
        "_k", F.md5(F.coalesce(F.col("text"), F.lit("")))
    )
    deduped = (
        src.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["_k"])
        .drop("_k")
    )
    writer = (
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def latest_windowed_metrics(spark: SparkSession, output_dir: str) -> DataFrame:
    """Current per-window state from an update-mode metrics directory:
    last-wins per (window, lang) by emitting batch id — one row_number
    window over the compact metrics table, no driver-side state."""
    w = Window.partitionBy("window_start", "window_end", "lang").orderBy(
        F.desc("_batch_id")
    )
    return (
        spark.read.parquet(output_dir)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_batch_id")
    )
