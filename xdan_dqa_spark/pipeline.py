"""The flagship quality pipeline: extract → score → label → scrub → filter.

One lazy DataFrame chain (SURVEY.md §3.1 Spark-native lifecycle):

    read → filter(non-empty)             [P1 validation]
         → extract + langid + ppl        [fused pandas UDF: input prep, P2]
         → heuristic signals (SQL exprs) [Gopher/C4]
         → category → weighted score (P4) → keep (F1) → scrub (P7)

Extraction, language ID and perplexity run in ONE pandas UDF, so the
executed plan holds one ArrowEvalPython stage with only the needed
columns projected in; everything else is whole-stage codegen. ``html``
is dropped immediately after extraction so the wide binary column never
reaches a shuffle (SURVEY.md §7 Arrow-memory risk).

The expression layer is SQL text (``heuristic_sql``, ``category_*_sql``,
``dimension_sql``, ``weighted_score_sql``, ``keep_sql``, ``scrub_sql``…):
each projection level is one ``selectExpr``, so building the plan costs
~150-250 py4j round trips instead of ~5k node-by-node Column calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.category import category_label_sql, category_score_sql, lower_sql
from .functions.fused import extract_score_udf, score_text_udf
from .functions.heuristics import heuristic_sql, words_sql
from .functions.scrub import scrub_count_cheap_sql, scrub_sql
from .functions.sqltext import dbl, lit, quote
from .functions.tokenize import NONWS_PLUS
from .operators.score import (
    QualityConfig,
    dimension_sql,
    keep_sql,
    suggestion_sql,
    weighted_score_sql,
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


def _project(df: DataFrame, keep: list[str],
             new: dict[str, str]) -> tuple[DataFrame, list[str]]:
    """One projection level as ONE ``selectExpr``: the ``keep`` columns in
    order, and each ``new`` column (SQL text over the current columns)
    in place of the kept column of that name, as ``withColumns`` does, or
    appended. Returns the DataFrame and its column names."""
    out = keep + [n for n in new if n not in keep]
    return df.selectExpr(
        *[f"{new[c]} AS {quote(c)}" if c in new else quote(c) for c in out]
    ), out


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
    cols = df.columns
    nonempty = "extracted_text IS NOT NULL AND length(trim(extracted_text)) > 0"
    fields = {"pred_lang": "_scored.lang", "lang_score": "_scored.lang_score",
              "ppl": "_scored.ppl"}

    # Extraction + langid + ppl fused into ONE ArrowEvalPython stage — one
    # Python round trip per batch (see functions/fused.py).
    if text_col is None:
        # Drop the heavy binary immediately — keeps shuffles/Arrow light.
        df = df.withColumn("_scored", extract_score_udf(F.col("html"))).drop("html")
        cols = [c for c in cols if c != "html"]
        fields = {"extracted_text": "_scored.extracted_text", **fields}
    else:
        # P1 validation runs pre-UDF here (pure JVM predicate on input text).
        df, cols = _project(df, cols, {"extracted_text": quote(text_col)})
        # Ship only the scored prefix through Arrow: the models read at
        # most MAX_CHARS post-lowercase chars, and lowercasing never
        # shrinks a string, so lower(s[:MAX_CHARS])[:MAX_CHARS] ==
        # lower(s)[:MAX_CHARS] — value-identical with severalfold less
        # JVM→Python traffic on long documents.
        from .functions.ngram_core import MAX_CHARS

        df = df.filter(nonempty).withColumn(
            "_scored",
            score_text_udf(F.substring(F.col("extracted_text"), 1, MAX_CHARS)),
        )
    df, cols = _project(df, cols, fields)
    # P1 validation: empty extractions are dropped before scoring columns.
    df = df.filter(nonempty)

    # Materialize the tokenization, every heuristic signal, the lowered
    # text, the category scores and the scrubbed text ONCE as real
    # columns, one projection level each. Downstream consumers (the
    # quality_metrics struct, the five dimensions, the keep predicate, the
    # category CASE, the token counts) then reference plain attributes —
    # cheap to Catalyst, so CollapseProject keeps the levels apart instead
    # of inlining the regex/array subtrees 2-3x (measured: -9s/240k docs at
    # local[32]).
    text = "extracted_text"
    df, cols = _project(df, cols, {
        "doc_id": "xxhash64(url)" if "url" in cols else f"xxhash64({text})",
        "_words": words_sql(text),
    })
    h_sql = heuristic_sql(text, "_words")
    h = {k: f"_h_{k}" for k in h_sql}
    cat_sql = category_score_sql("_cat_t")
    cat = {c: f"_cat_{c}" for c in cat_sql}
    # The result: the columns so far, then the scored ones (a scored name
    # the input already had stays in its place, as withColumn keeps it).
    temps = {"_words", "_cat_t", *h.values(), *cat.values()}
    outputs = ["quality_metrics", "category", "improvement_suggestions", "score", "keep",
               "scrubbed_text", "scrub_count", "token_info"]
    result = [c for c in cols if c not in temps] + [c for c in outputs if c not in cols]
    df, cols = _project(df, cols, {
        **{h[k]: v for k, v in h_sql.items()},
        # P2's topical label (8-way DataCategory, reference
        # src/models.py:6-15) — one regexp_count pass per category over one
        # lowered text column.
        "_cat_t": lower_sql(text),
        # Scrub: materialize the replacement chain once; the count is then
        # derived by literal mask-token counting — no second regex chain.
        "scrubbed_text": scrub_sql(text),
    })

    declared = (declared_lang_col if declared_lang_col and declared_lang_col in cols
                else None)
    dims = dimension_sql(h, "pred_lang", "lang_score", "ppl", declared, cfg)
    metrics = [*[h[k] for k in ("n_chars", "n_words", "mean_word_len", "stopword_ratio",
                                "symbol_ratio", "dup_line_frac", "alpha_ratio")],
               "lang_score", "ppl"]
    # Token-accounting envelope (reference TokenInfo src/data_types.py:6-12,
    # cost formula src/data_transformer.py:181-192): input = tokens of the
    # extracted text, output = tokens of the scrubbed text we publish.
    # out_tok counts \S+ runs directly — value-identical to
    # size(words_sql(...)) (verified 0 mismatches / 240k docs incl. PII
    # rows) but allocation-free: the split materializes a full string
    # array per row just to take its size. (A pure-arithmetic derivation
    # from input tokens is UNSOUND: a phone match can span whitespace, so
    # scrubbing merges tokens.)
    in_tok = f"CAST({h['n_words']} AS BIGINT)"
    out_tok = f"CAST(regexp_count(scrubbed_text, {lit(NONWS_PLUS)}) AS BIGINT)"
    df, cols = _project(df, cols, {
        **{cat[c]: v for c, v in cat_sql.items()},
        "quality_metrics": "struct(" + ", ".join(
            f"{m} AS {m.removeprefix('_h_')}" for m in metrics) + ")",
        # ProcessingMetadata.improvement_suggestions analogue (reference
        # src/models.py:165-175) — fired-rule structs.
        "improvement_suggestions": suggestion_sql(h),
        "score": weighted_score_sql(dims, cfg),
        "scrub_count": scrub_count_cheap_sql(text, "scrubbed_text"),
        "token_info": (
            f"struct({in_tok} AS input_tokens, {out_tok} AS output_tokens,"
            f" {in_tok} + {out_tok} AS total_tokens,"
            f" CAST({in_tok} AS DOUBLE) * {dbl(cfg.price_in_per_million / 1e6)}"
            f" + CAST({out_tok} AS DOUBLE) * {dbl(cfg.price_out_per_million / 1e6)}"
            f" AS estimated_cost, {lit(cfg.currency)} AS currency)"),
    })

    # The argmax CASE repeats the max over the materialized scores 16×;
    # attributes are free to duplicate. keep tests the same CASE when
    # categories are restricted.
    label = category_label_sql(cat)
    df, _ = _project(df, result, {
        "category": label,
        "keep": keep_sql("score", "pred_lang", h, declared, cfg, category=f"({label})"),
    })
    return df
