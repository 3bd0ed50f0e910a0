"""Structured Streaming: incremental scoring, checkpoint resume, watermark."""

from __future__ import annotations

from pyspark.sql import functions as F



def _write_batch(spark, webtext, path, lo, hi):
    (
        webtext.select("url", "warc_ts", "html", "text", "lang")
        .filter((F.xxhash64("url") % 2 == lo % 2) if hi - lo == 1 else F.lit(True))
        .limit(200)
        .write.mode("append")
        .parquet(path)
    )


def test_score_stream_incremental_no_rescore(spark, webtext, tmp_path):
    """Two availableNow passes; files from pass 1 are not re-scored in
    pass 2 (streaming checkpoint = the resume contract)."""
    from xdan_dqa_spark.streaming.stream import score_stream

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first = webtext.select("url", "warc_ts", "html", "text", "lang").limit(300)
    first.write.parquet(inp)

    q = score_stream(spark, inp, out, ckpt, run_id="s1")
    q.awaitTermination(120)
    n1 = spark.read.parquet(f"{out}/scored").count()
    assert n1 > 0

    # land a second batch of files, rerun with the same checkpoint
    second = webtext.select("url", "warc_ts", "html", "text", "lang").orderBy(F.desc("url")).limit(100)
    second.write.mode("append").parquet(inp)

    q2 = score_stream(spark, inp, out, ckpt, run_id="s2")
    q2.awaitTermination(120)
    scored = spark.read.parquet(f"{out}/scored")
    n2 = scored.count()
    # pass 2 scored ONLY the newly-landed files: output grew by ≤ new rows
    assert n1 < n2 <= n1 + 100
    # each stream run's lineage (read back from the files its micro-batches
    # wrote) counts exactly the rows that run appended
    lineage = {}
    for r in spark.read.parquet(f"{out}/metrics").select("run_id", "n_docs").collect():
        run = r["run_id"].rsplit("-", 1)[0]
        lineage[run] = lineage.get(run, 0) + r["n_docs"]
    assert lineage == {"s1": n1, "s2": n2 - n1}


def test_windowed_metrics_watermark(spark, webtext, tmp_path):
    """Append-mode windowed agg emits a window only after the watermark
    passes it — late-data semantics for crawl timestamps."""
    from xdan_dqa_spark.streaming.stream import windowed_metrics_stream

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = webtext.select("url", "warc_ts", "html", "text", "lang")
    base.limit(200).write.parquet(inp)

    q = windowed_metrics_stream(spark, inp, out, ckpt,
                                window="1 hour", watermark="0 seconds")
    q.awaitTermination(120)

    # advance event time far past every batch-1 window → all emitted
    late = base.limit(50).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 DAYS"))
    late.write.mode("append").parquet(inp)
    q2 = windowed_metrics_stream(spark, inp, out, ckpt,
                                 window="1 hour", watermark="0 seconds")
    q2.awaitTermination(120)

    emitted = spark.read.parquet(out)
    assert emitted.count() > 0
    cols = set(emitted.columns)
    assert {"window_start", "window_end", "lang", "n_docs", "avg_text_len"} <= cols


def test_update_mode_windowed_metrics_restart(spark, webtext, tmp_path):
    """Production update-mode path: foreachBatch parquet deltas + last-wins
    readback. A SECOND availableNow run over newly-landed files (same
    checkpoint = restart) must continue batch ids and merge state, so the
    final last-wins view equals a batch GROUP BY over ALL input — no
    driver-resident state anywhere (the sink is parquet deltas, the
    readback one row_number window)."""
    from xdan_dqa_spark.streaming.stream import (
        latest_windowed_metrics,
        windowed_metrics_update_stream,
    )

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = webtext.select("url", "warc_ts", "html", "text", "lang")
    base.limit(300).write.parquet(inp)
    # huge watermark: no state eviction, so the end state must equal the
    # full batch aggregate (eviction correctness is append-mode's test)
    q = windowed_metrics_update_stream(spark, inp, out, ckpt,
                                       window="1 hour", watermark="3650 days")
    q.awaitTermination(180)
    mid = latest_windowed_metrics(spark, out)
    n_mid = mid.count()
    assert n_mid > 0

    base.orderBy(F.desc("url")).limit(150).write.mode("append").parquet(inp)
    q2 = windowed_metrics_update_stream(spark, inp, out, ckpt,
                                        window="1 hour", watermark="3650 days")
    q2.awaitTermination(180)

    got = {
        (r["window_start"], r["lang"]): (r["n_docs"],
                                         round(r["avg_text_len"], 6))
        for r in latest_windowed_metrics(spark, out).collect()
    }
    expected = {
        (r["window_start"], r["lang"]): (r["n_docs"],
                                         round(r["avg_text_len"], 6))
        for r in spark.read.parquet(inp)
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), "lang")
        .agg(F.count("*").alias("n_docs"),
             F.avg(F.length("text")).alias("avg_text_len"))
        .select(F.col("w.start").alias("window_start"), "lang",
                "n_docs", "avg_text_len")
        .collect()
    }
    assert got == expected
    # updated windows were RE-emitted (delta log grew past the live set)
    raw = spark.read.parquet(out)
    assert raw.count() > len(got)
    # batch ids continued across the restart — the last-wins order key
    assert raw.select(F.max("_batch_id")).first()[0] >= 1


def test_dedup_stream_drops_recrawled_duplicates_across_restart(spark, tmp_path):
    """Streaming exact-dedup: a recrawl of the same page body within the
    watermark horizon is dropped — including across a query restart on
    the same checkpoint (the dedup state lives in the state store)."""
    import datetime as dt

    from xdan_dqa_spark.streaming.stream import dedup_stream

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)

    def rows(specs):
        return spark.createDataFrame(
            [(u, t0 + dt.timedelta(minutes=m), b"", txt, "en")
             for (u, m, txt) in specs],
            "url string, warc_ts timestamp, html binary, text string, lang string",
        )

    # pass 1: A and B, plus an in-batch recrawl of A
    rows([("u1", 0, "body A"), ("u2", 1, "body B"),
          ("u1b", 2, "body A")]).write.parquet(inp)
    q = dedup_stream(spark, inp, out, ckpt)
    q.awaitTermination(120)
    got1 = sorted(r["text"] for r in spark.read.parquet(out).collect())
    assert got1 == ["body A", "body B"]

    # pass 2 (restart, same checkpoint): recrawl of B + genuinely new C
    rows([("u2b", 3, "body B"), ("u3", 4, "body C")]).write.mode(
        "append"
    ).parquet(inp)
    q2 = dedup_stream(spark, inp, out, ckpt)
    q2.awaitTermination(120)
    got2 = sorted(r["text"] for r in spark.read.parquet(out).collect())
    assert got2 == ["body A", "body B", "body C"]


def test_stream_gopher_score_equals_batch(spark):
    """Map-only scoring under availableNow file streaming (4 real
    micro-batches) must equal the identical batch projection exactly —
    the 'same keep decision, streaming or batch' contract."""
    from pyspark.sql import functions as F

    from xdan_dqa_spark.functions.heuristics import heuristic_columns
    from xdan_dqa_spark.plans.entry_queries import QUERIES, _t

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, QUERIES["stream_gopher_score"](spark, sf).collect()))
    docs = _t(spark, sf, "documents")
    h = heuristic_columns("text")
    want = sorted(map(tuple, docs.select(
        "doc_id",
        h["n_words"].cast("long").alias("n_words"),
        F.round(h["symbol_ratio"], 9).alias("symbol_ratio"),
        F.round(h["dup_line_frac"], 9).alias("dup_line_frac"),
    ).withColumn(
        "keep",
        (F.col("symbol_ratio") <= 0.1) & (F.col("n_words") >= 5)
        & (F.col("dup_line_frac") <= 0.3),
    ).collect()))
    assert got == want and len(got) > 0
