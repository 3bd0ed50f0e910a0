"""The flagship quality pipeline: extract → score → label → scrub → filter.

One lazy DataFrame chain (SURVEY.md §3.1 Spark-native lifecycle):

    read → filter(non-empty)            [P1 validation]
         → extract_text (pandas UDF)    [input prep]
         → langid + ppl (pandas UDFs)   [P2 replacement]
         → heuristic struct (Col exprs) [Gopher/C4]
         → weighted score (P4) → keep (F1) → scrub (P7 replacement)

Catalyst places both pandas UDFs in adjacent ArrowEvalPython stages with
only the needed columns projected in; everything else is whole-stage
codegen. ``html`` is dropped immediately after extraction so the wide
binary column never reaches a shuffle (SURVEY.md §7 Arrow-memory risk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.tokenize import NONWS_PLUS

from .functions.category import (
    category_label_from_scores,
    category_scores_from_lower,
    lower_col,
)
from .functions.fused import extract_score_udf, score_text_udf
from .functions.heuristics import heuristic_columns, words_col
from .functions.scrub import scrub_count_cheap, scrub_expr
from .operators.score import (
    QualityConfig,
    dimension_columns,
    keep_column,
    suggestion_structs,
    weighted_score,
)

SALT_BUCKETS = 64  # salt modulus for skewed-host partitioning


def with_doc_id(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Deterministic partitionable id (replaces the timestamp-string id of
    reference src/processor.py:223-227 — resumable across runs)."""
    return df.withColumn("doc_id", F.xxhash64(F.col(url_col)))


def uid64_md5(*cols: str) -> F.Column:
    """P5 oracle-portable variant: 60-bit uid from the first 15 hex chars
    of md5 over ':'-joined key columns. The production path keeps
    xxhash64 (faster, JVM-native, but absent from other engines); this
    md5 form computes the IDENTICAL value in any engine with md5 —
    the cross-engine-checkable id for interchange tables. Same
    determinism/resume contract as ``with_doc_id``."""
    key = F.concat_ws(":", *[F.col(c).cast("string") for c in cols])
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def salted_repartition(df: DataFrame, n_partitions: int | None = None,
                       url_col: str = "url") -> DataFrame:
    """URL-hash repartition with a salt term so one heavy host (Zipf head)
    cannot pin a partition (SURVEY.md §2.6). xxhash64 of the full url is
    already near-uniform; the salt column additionally randomizes rows
    that share a url (duplicate crawls).

    NOT part of the default scoring pipeline (round 3): scoring is
    map-only and parquet/WARC scans split by byte ranges, so scan tasks
    are byte-balanced regardless of host clustering — the shuffle cost a
    full dataset round-trip through memory (~20% of flagship wall,
    measured same-window at local[4] and local[16]) to fix a skew that
    cannot occur in a map-only stage. Use it where a skewed KEY actually
    meets a shuffle (keyed aggregations over hosts) or where the input
    arrives as few unsplittable files (gzipped JSONL dumps)."""
    salt = F.pmod(F.xxhash64(F.col(url_col), F.lit(17)), F.lit(SALT_BUCKETS))
    if n_partitions:
        return df.repartition(n_partitions, F.xxhash64(F.col(url_col)), salt)
    return df.repartition(F.xxhash64(F.col(url_col)), salt)


def score_webtext(
    df: DataFrame,
    cfg: QualityConfig | None = None,
    text_col: str | None = None,
    declared_lang_col: str | None = "lang",
) -> DataFrame:
    """Score a webtext-shaped DataFrame; returns input + scored columns.

    If ``text_col`` is None the text is extracted from the ``html`` binary
    column (the input_hint shape); pass ``text_col='text'`` to score
    pre-extracted text (e.g. the driver's ``documents`` table).
    """
    cfg = cfg or QualityConfig()

    # Extraction + langid + ppl fused into ONE ArrowEvalPython stage — one
    # Python round trip per batch (see functions/fused.py).
    if text_col is None:
        df = df.withColumn("_scored", extract_score_udf(F.col("html")))
        # Drop the heavy binary immediately — keeps shuffles/Arrow light.
        df = df.drop("html")
        df = df.withColumn("extracted_text", F.col("_scored.extracted_text"))
    else:
        # P1 validation runs pre-UDF here (pure JVM predicate on input text).
        df = df.withColumn("extracted_text", F.col(text_col))
        df = df.filter(
            F.col("extracted_text").isNotNull()
            & (F.length(F.trim(F.col("extracted_text"))) > 0)
        )
        # Ship only the scored prefix through Arrow: the models read at
        # most MAX_CHARS post-lowercase chars, and lowercasing never
        # shrinks a string, so lower(s[:MAX_CHARS])[:MAX_CHARS] ==
        # lower(s)[:MAX_CHARS] — value-identical with severalfold less
        # JVM→Python traffic on long documents.
        from .functions.ngram_core import MAX_CHARS

        df = df.withColumn(
            "_scored",
            score_text_udf(F.substring(F.col("extracted_text"), 1, MAX_CHARS)),
        )
    text = F.col("extracted_text")

    df = (
        df.withColumn("pred_lang", F.col("_scored.lang"))
        .withColumn("lang_score", F.col("_scored.lang_score"))
        .withColumn("ppl", F.col("_scored.ppl"))
        .drop("_scored")
    )

    # P1 validation: empty extractions are dropped before scoring columns.
    df = df.filter(text.isNotNull() & (F.length(F.trim(text)) > 0))

    df = with_doc_id(df) if "url" in df.columns else df.withColumn(
        "doc_id", F.xxhash64(text)
    )

    # Materialize the tokenization and every heuristic signal ONCE as real
    # columns. Downstream consumers (quality_metrics struct, the five
    # dimensions, the keep predicate) then reference plain attributes —
    # cheap to Catalyst, so CollapseProject dedups instead of inlining the
    # regex/array subtrees 2-3x (measured: -9s/240k docs at local[32]).
    df = df.withColumn("_words", words_col(text))
    h_exprs = heuristic_columns(text, words=F.col("_words"))
    df = df.select("*", *[v.alias(f"_h_{k}") for k, v in h_exprs.items()])
    h = {k: F.col(f"_h_{k}") for k in h_exprs}

    declared = F.col(declared_lang_col) if declared_lang_col and declared_lang_col in df.columns else None
    dims = dimension_columns(h, F.col("pred_lang"), F.col("lang_score"), F.col("ppl"), declared, cfg)

    df = df.withColumn(
        "quality_metrics",
        F.struct(
            h["n_chars"].alias("n_chars"),
            h["n_words"].alias("n_words"),
            h["mean_word_len"].alias("mean_word_len"),
            h["stopword_ratio"].alias("stopword_ratio"),
            h["symbol_ratio"].alias("symbol_ratio"),
            h["dup_line_frac"].alias("dup_line_frac"),
            h["alpha_ratio"].alias("alpha_ratio"),
            F.col("lang_score").alias("lang_score"),
            F.col("ppl").alias("ppl"),
        ),
    )
    # P2's topical label (8-way DataCategory, reference src/models.py:6-15)
    # — one regexp_count pass per category over one materialized lowered
    # text column. Scores are materialized as real columns too (same trick
    # as the heuristics above): the argmax CASE references each score ~9×,
    # and attributes are free to duplicate.
    df = df.withColumn("_cat_t", lower_col(text))
    cat_scores = category_scores_from_lower(F.col("_cat_t"))
    df = df.select("*", *[v.alias(f"_cat_{c}") for c, v in cat_scores.items()])
    df = df.withColumn(
        "category",
        category_label_from_scores({c: F.col(f"_cat_{c}") for c in cat_scores}),
    )

    # ProcessingMetadata.improvement_suggestions analogue (reference
    # src/models.py:165-175) — fired-rule structs, pure exprs over the
    # already-materialized heuristics.
    df = df.withColumn("improvement_suggestions", suggestion_structs(h))

    df = df.withColumn("score", weighted_score(dims, cfg))
    df = df.withColumn(
        "keep",
        keep_column(F.col("score"), F.col("pred_lang"), h, declared, cfg,
                    category=F.col("category")),
    )

    # Scrub: materialize the replacement chain once, then derive the count
    # by literal mask-token counting — no second run of the regex chain.
    df = df.withColumn("scrubbed_text", scrub_expr(text))
    df = df.withColumn("scrub_count", scrub_count_cheap(text, F.col("scrubbed_text")))

    # Token-accounting envelope (reference TokenInfo src/data_types.py:6-12,
    # cost formula src/data_transformer.py:181-192): input = tokens of the
    # extracted text, output = tokens of the scrubbed text we publish.
    # out_tok counts \S+ runs directly — value-identical to
    # size(words_col(...)) (verified 0 mismatches / 240k docs incl. PII
    # rows) but allocation-free: the split materializes a full string
    # array per row just to take its size. (A pure-arithmetic derivation
    # from input tokens is UNSOUND: a phone match can span whitespace, so
    # scrubbing merges tokens.) Measured cost of this column: 5.8 s /
    # 240k docs at local[16] in one window, indistinguishable from
    # hypervisor noise interleaved — see BASELINE.md round-3 notes.
    in_tok = F.col("_h_n_words").cast("long")
    out_tok = F.regexp_count(F.col("scrubbed_text"), F.lit(NONWS_PLUS)).cast("long")
    df = df.withColumn(
        "token_info",
        F.struct(
            in_tok.alias("input_tokens"),
            out_tok.alias("output_tokens"),
            (in_tok + out_tok).alias("total_tokens"),
            (
                in_tok.cast("double") * F.lit(cfg.price_in_per_million / 1e6)
                + out_tok.cast("double") * F.lit(cfg.price_out_per_million / 1e6)
            ).alias("estimated_cost"),
            F.lit(cfg.currency).alias("currency"),
        ),
    )
    return df.drop(
        "_words", "_cat_t",
        *[f"_h_{k}" for k in h_exprs],
        *[f"_cat_{c}" for c in cat_scores],
    )
