"""Per-layer metrics of the traced run.

Each layer is timed from outside, as a span around a call into its public
functions, forced with the noop sink on an input cached in memory, so the
span holds that layer and little else. Layers a workload does not run
report 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .workloads import du, force

RULES = ("n_chars", "n_words", "mean_word_len", "stopword_ratio", "symbol_ratio",
         "dup_line_frac", "alpha_ratio", "cjk_ratio", "n_cjk", "distinct_word_ratio")

# On-one-core split of the fused UDF's Python time, as ROADMAP.md records it.
ROADMAP_UDF_SHARES = {"langid": 0.51, "extract": 0.22, "ppl": 0.19, "encode": 0.06}
SHARE_TOLERANCE = 0.10  # absolute share before a disagreement is reported

PER_LAYER = {
    "session.start_s": "s",
    "scan.s": "s",
    "udf.fused_s": "s",
    "udf.extract_us_per_doc": "us",
    "udf.encode_us_per_doc": "us",
    "udf.langid_us_per_doc": "us",
    "udf.ppl_us_per_doc": "us",
    "expr.heuristics_s": "s",
    **{f"expr.rule.{r}_s": "s" for r in RULES},
    "expr.category_s": "s",
    "expr.scrub_s": "s",
    "scrub.hits": "count",
    "pipeline.score_webtext_s": "s",
    "pipeline.unattributed_s": "s",
    "sink.write_s": "s",
    "sink.bytes_per_doc": "bytes",
    "lineage.s": "s",
    "resume.committed_ids_s": "s",
    "resume.filter_s": "s",
    "resume.rows_in": "count",
    "resume.rows_skipped": "count",
    "resume.skip_ratio": "ratio",
    "dedup.exact_s": "s",
    "dedup.bands_s": "s",
    "dedup.candidates_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verify_s": "s",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "dedup.index_write_s": "s",
    "dedup.incremental_s": "s",
    "dedup.index_rows": "count",
    "self.op_s": "s",
    "self.job_s": "s",
    "self.job.write_s": "s",
    "self.job.lineage_s": "s",
    "self.job.readback_s": "s",
    "proc.cpu_util": "ratio",
    "host.steal_pct": "%",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "trace.docs_per_s_untraced": "1/s",
    "trace.docs_per_s_traced": "1/s",
    "trace.overhead_pct": "%",
    "layers.share_of_op": "ratio",
}

# Isolated layer times that together should carry an op: the scoring layers,
# the sink and the lineage pass (filter_snapshot), or the dedup stages
# (dedup_near). A workload's other layers read 0.
OP_LAYERS = ("udf.fused_s", "expr.heuristics_s", "expr.category_s", "expr.scrub_s",
             "sink.write_s", "lineage.s",
             "dedup.exact_s", "dedup.bands_s", "dedup.candidates_s", "dedup.verify_s")

# span name of a traced op -> self-time metric
SELF_SPANS = {"op": "self.op_s", "job": "self.job_s", "job.write": "self.job.write_s",
              "job.lineage": "self.job.lineage_s", "job.readback": "self.job.readback_s"}


def _time(tracer, name: str, fn, reps: int = 1) -> float:
    for _ in range(reps):
        with tracer.span("layer." + name):
            fn()
    return tracer.median("layer." + name)


def self_time_values(tracer) -> dict[str, float]:
    """Per traced op, each span name's summed self time; median over ops."""
    per_op: dict[tuple[str, int], float] = defaultdict(float)
    for s, own in zip(tracer.spans, tracer.self_seconds()):
        if s["op"] is not None and s["name"] in SELF_SPANS:
            per_op[(s["name"], s["op"])] += own
    out = {}
    for name, metric in SELF_SPANS.items():
        vals = [v for (n, _), v in per_op.items() if n == name]
        out[metric] = statistics.median(vals) if vals else 0.0
    return out


def host_layer_values(timed: list[dict], nproc: int) -> dict[str, float]:
    wall = sum(o["wall_raw"] for o in timed) or 1e-9
    total = sum(o["cpu_total"] for o in timed) or 1e-9
    plain = [o["docs"] / o["wall"] for o in timed if not o["traced"]]
    traced = [o["docs"] / o["wall"] for o in timed if o["traced"]]
    out = {
        "proc.cpu_util": sum(o["busy"] for o in timed) / (wall * nproc),
        "host.steal_pct": 100 * sum(o["steal"] for o in timed) / total,
        "spark.tasks": statistics.median(o["tasks"] for o in timed) if timed else 0,
        "spark.failed_tasks": sum(o["failed_tasks"] for o in timed),
    }
    if plain and traced:
        u, t = statistics.median(plain), statistics.median(traced)
        out.update({"trace.docs_per_s_untraced": u, "trace.docs_per_s_traced": t,
                    "trace.overhead_pct": 100 * (u - t) / u})
    return out


def share_of_op(vals: dict[str, float], timed: list[dict]) -> float:
    """Summed isolated time of OP_LAYERS over the median untraced op wall,
    both as clocked."""
    walls = [o["wall_raw"] for o in timed if not o["traced"]]
    return sum(vals[k] for k in OP_LAYERS) / statistics.median(walls) if walls else 0.0


def _udf_stages(path: str, tracer, batch: int = 1024, reps: int = 2) -> dict[str, float]:
    """The fused UDF's pure-Python stages on pandas batches, in this process
    (one core); each stage's time is its best total over ``reps`` passes."""
    import pyarrow.parquet as pq

    from xdan_dqa_spark.functions.extract import extract_text
    from xdan_dqa_spark.functions.langid import score_encoded
    from xdan_dqa_spark.functions.ngram_core import MAX_CHARS, encode_batch
    from xdan_dqa_spark.functions.perplexity import ppl_encoded_by_lang

    html = pq.read_table(path, columns=["html"]).column("html").to_pandas()

    def stage(name, fn, *a):
        with tracer.span("layer.udf." + name) as rec:
            out = fn(*a)
        spent[name] += rec["end"] - rec["start"]
        return out

    best: dict[str, float] = {}
    for _ in range(reps):
        spent = dict.fromkeys(ROADMAP_UDF_SHARES, 0.0)
        for lo in range(0, len(html), batch):
            txt = stage("extract", html.iloc[lo:lo + batch].map, extract_text)
            enc = stage("encode", lambda: encode_batch(
                txt.fillna("").str.lower().str.slice(0, MAX_CHARS)))
            lid = stage("langid", score_encoded, enc)
            stage("ppl", ppl_encoded_by_lang, enc, lid["lang"].to_numpy())
        for k, v in spent.items():
            best[k] = min(best.get(k, v), v)
    total = sum(best.values())
    shares = {k: v / total for k, v in best.items()}
    off = {k: shares[k] - ROADMAP_UDF_SHARES[k] for k in shares
           if abs(shares[k] - ROADMAP_UDF_SHARES[k]) > SHARE_TOLERANCE}
    print("  udf split (in-process, one core): " + ", ".join(
        f"{k} {100 * shares[k]:.0f}% (ROADMAP {100 * ROADMAP_UDF_SHARES[k]:.0f}%)"
        for k in ROADMAP_UDF_SHARES))
    print("  udf split vs ROADMAP: " + ("agrees within 10 points" if not off else
          "DISAGREES: " + ", ".join(f"{k} {100 * d:+.0f} points" for k, d in off.items())))
    return {f"udf.{k}_us_per_doc": 1e6 * v / len(html) for k, v in best.items()}


def _scoring(spark, tracer, path: str, scratch: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from xdan_dqa_spark.functions.category import (
        category_label_from_scores,
        category_scores_from_lower,
        lower_col,
    )
    from xdan_dqa_spark.functions.fused import extract_score_udf
    from xdan_dqa_spark.functions.heuristics import heuristic_columns, words_col
    from xdan_dqa_spark.functions.scrub import scrub_count_cheap, scrub_expr
    from xdan_dqa_spark.operators.metrics import partition_metrics
    from xdan_dqa_spark.pipeline import score_webtext

    raw = spark.read.parquet(path)
    v: dict[str, float] = {"scan.s": _time(tracer, "scan", lambda: force(raw), 3)}
    cached = raw.cache()
    n = cached.count()
    text = F.col("text")
    v["udf.fused_s"] = _time(tracer, "udf.fused", lambda: force(
        cached.select(extract_score_udf(F.col("html")).alias("s"))), 2)
    v["expr.heuristics_s"] = _time(tracer, "expr.heuristics", lambda: force(
        cached.withColumn("_w", words_col(text)).select(
            *[c.alias(k) for k, c in heuristic_columns(text, F.col("_w")).items()])), 2)
    rules = heuristic_columns(text)
    for r in RULES:
        if r in rules:
            v[f"expr.rule.{r}_s"] = _time(tracer, f"expr.rule.{r}",
                                          lambda c=rules[r]: force(cached.select(c.alias("h"))))
        else:
            print(f"  expr.rule.{r}: no such heuristic_columns key, reported as 0")

    def category():
        t = cached.withColumn("_t", lower_col(text))
        scores = category_scores_from_lower(F.col("_t"))
        t = t.select("*", *[c.alias(f"_c_{k}") for k, c in scores.items()])
        force(t.select(category_label_from_scores(
            {k: F.col(f"_c_{k}") for k in scores}).alias("category")))

    v["expr.category_s"] = _time(tracer, "expr.category", category, 2)
    scrubbed = cached.withColumn("_s", scrub_expr(text)).select(
        scrub_count_cheap(text, F.col("_s")).alias("n"), "_s")
    v["expr.scrub_s"] = _time(tracer, "expr.scrub", lambda: force(scrubbed), 2)
    v["scrub.hits"] = float(scrubbed.agg(F.sum("n")).collect()[0][0] or 0)
    v["pipeline.score_webtext_s"] = _time(
        tracer, "pipeline.score_webtext", lambda: force(score_webtext(raw)), 2)
    v["pipeline.unattributed_s"] = v["pipeline.score_webtext_s"] - sum(
        v[k] for k in ("scan.s", "udf.fused_s", "expr.heuristics_s",
                       "expr.category_s", "expr.scrub_s"))
    scored = score_webtext(cached).cache()
    scored.count()
    out = f"{scratch}/probe-sink"
    v["sink.write_s"] = _time(tracer, "sink.write",
                              lambda: scored.write.mode("overwrite").parquet(out), 2)
    v["sink.bytes_per_doc"] = du(out) / n
    scored.unpersist()
    cached.unpersist()
    v["lineage.s"] = _time(tracer, "lineage", lambda: force(
        partition_metrics(score_webtext(raw), "probe")))
    v.update(_udf_stages(path, tracer))
    return v


def _dedup_stages(tracer, docs) -> dict[str, float]:
    from xdan_dqa_spark.operators.dedup import (
        exact_dedup,
        jaccard_verify,
        minhash_bands,
        minhash_candidate_pairs,
    )

    v = {"dedup.exact_s": _time(tracer, "dedup.exact", lambda: force(exact_dedup(docs)), 2)}
    base = exact_dedup(docs).cache()
    base.count()
    v["dedup.bands_s"] = _time(tracer, "dedup.bands", lambda: force(minhash_bands(base)))
    # the candidate call recomputes the bands; its stage time is the excess
    with_bands = _time(tracer, "dedup.candidates", lambda: force(minhash_candidate_pairs(base)))
    v["dedup.candidates_s"] = max(0.0, with_bands - v["dedup.bands_s"])
    pairs = minhash_candidate_pairs(base).cache()
    v["dedup.candidate_pairs"] = float(pairs.count())
    v["dedup.verify_s"] = _time(tracer, "dedup.verify",
                                lambda: force(jaccard_verify(base, pairs)))
    v["dedup.verified_pairs"] = float(jaccard_verify(base, pairs).count())
    v["dedup.verify_yield"] = v["dedup.verified_pairs"] / max(v["dedup.candidate_pairs"], 1)
    pairs.unpersist()
    base.unpersist()
    return v


def _corpus(wl, spark, tracer) -> dict[str, float]:
    """Batch dedup stages on the corpus; then resume and incremental dedup
    with the corpus split by id: ids = 2 or 3 mod 4 are committed and
    indexed, ids = 0 mod 4 arrive new, ids = 2 mod 4 arrive again."""
    from pyspark.sql import functions as F

    from xdan_dqa_spark.operators.dedup import minhash_incremental_dedup, minhash_index_write
    from xdan_dqa_spark.operators.resume import committed_ids, resume_filter

    raw = spark.read.parquet(wl.path("in", "full"))
    v = {"scan.s": _time(tracer, "scan", lambda: force(raw), 3)}
    docs = raw.cache()
    docs.count()
    v.update(_dedup_stages(tracer, docs))

    committed, index = wl.path("probe-committed"), wl.path("probe-index")
    old = docs.where(F.col("doc_id") % 4 >= 2)
    old.write.mode("overwrite").parquet(committed)
    v["dedup.index_write_s"] = _time(tracer, "dedup.index_write",
                                     lambda: minhash_index_write(old, index, mode="overwrite"))
    batch = docs.where(F.col("doc_id") % 2 == 0)
    v["resume.committed_ids_s"] = _time(tracer, "resume.committed_ids",
                                        lambda: force(committed_ids(spark, committed)), 2)
    v["resume.filter_s"] = _time(tracer, "resume.filter", lambda: force(
        resume_filter(batch, committed_ids(spark, committed))), 2)
    new = resume_filter(batch, committed_ids(spark, committed)).select("doc_id", "text").cache()
    v["resume.rows_in"] = float(batch.count())
    v["resume.rows_skipped"] = v["resume.rows_in"] - new.count()
    v["resume.skip_ratio"] = v["resume.rows_skipped"] / max(v["resume.rows_in"], 1)
    v["dedup.incremental_s"] = _time(tracer, "dedup.incremental", lambda: force(
        minhash_incremental_dedup(new, spark.read.parquet(committed).select("doc_id", "text"),
                                  spark.read.parquet(index))))
    v["dedup.index_rows"] = float(spark.read.parquet(index).count())
    new.unpersist()
    docs.unpersist()
    return v


def probe_layers(wl, spark, tracer) -> dict[str, float]:
    """Isolated layer timings on this run's own inputs."""
    tracer.op = None
    if wl.name == "filter_snapshot":
        return _scoring(spark, tracer, wl.path("in", "full"), wl.work)
    return _corpus(wl, spark, tracer)
