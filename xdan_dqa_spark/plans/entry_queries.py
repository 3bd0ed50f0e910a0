"""Driver-contract queries: one per implemented operator (SURVEY.md §2),
each with a DuckDB-ANSI oracle twin.

Parity discipline (so the driver's value-hash matches bit-for-bit):
  * only +,-,*,/ arithmetic and engine-portable functions (length, trim,
    split-on-literal, replace-literal, md5, least/greatest, CASE) in
    oracle-paired queries — no transcendentals, no engine hash functions;
  * double sums go through DECIMAL(20,6) (exact arithmetic in both
    engines) and back to double;
  * every computed column aliased identically on both sides.
"""

from __future__ import annotations

import itertools
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Per-process sequence for memory-sink streaming query names: concurrent
# same-session invocations must not collide on an active query name.
_STREAM_QUERY_SEQ = itertools.count()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _staged_spec_matches(marker: str, spec: dict) -> bool:
    """True iff a staging marker exists and equals ``spec``. The read is
    guarded: a partial/corrupt marker (killed or concurrent run mid-write)
    reads as no-match → the caller restages, instead of JSONDecodeError
    failing the whole query."""
    try:
        with open(marker) as fh:
            return json.load(fh) == spec
    except (OSError, ValueError):
        return False


def _publish_spec(marker: str, spec: dict) -> None:
    """Atomically publish a staging marker AFTER its data is staged:
    temp-file + rename, so any observer sees either no marker (restage)
    or a complete one — never partial JSON."""
    tmp = f"{marker}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(spec, fh)
    os.replace(tmp, marker)


def _stage_with_spec(marker: str, spec: dict, stage) -> None:
    """Idempotent staging protocol: skip when a valid matching marker
    exists; otherwise UNLINK the marker FIRST, then restage the data,
    then atomically publish the marker. The unlink closes the cross-
    process race the atomic publish alone leaves open: without it,
    process B can observe A's still-valid marker while A is mid-rewrite
    of the data files and read a half-deleted parquet dir. With
    marker-absent ⇒ restage/wait, the valid-marker window never overlaps
    a data rewrite."""
    if _staged_spec_matches(marker, spec):
        return
    try:
        os.remove(marker)
    except OSError:
        pass
    stage()
    _publish_spec(marker, spec)


# ------------------------------------------------------------------ helpers

def _words(text_col):
    """Tokens by single-space split, empties dropped — mirrors DuckDB
    list_filter(string_split(coalesce(text,''),' '), w -> w <> '').
    The coalesce matters: Spark size(split(NULL)) is -1 (legacy
    sizeOfNull) while DuckDB len(NULL) is NULL — null text must mean
    zero tokens in BOTH engines."""
    return F.filter(
        F.split(F.coalesce(text_col, F.lit("")), " ", -1), lambda w: w != F.lit("")
    )


_WORDS_SQL = "list_filter(string_split(coalesce(text, ''), ' '), w -> w <> '')"

# Whitespace-run tokenization twin — mirrors operators/dedup.py
# wordset_signature / shingles / simhash and textstats. The class is
# spelled explicitly on BOTH sides (functions/tokenize.py): Java \s is
# the 6-char ASCII class incl. \x0B (vertical tab); RE2's \s lacks \x0B,
# so a bare '\s+' here would tokenize a \x0B-bearing doc differently
# from Spark and break the value-hash compare.
_WS_CLASS_SQL = "[ \\t\\n\\x0B\\f\\r]"
_NONWS_CLASS_SQL = "[^ \\t\\n\\x0B\\f\\r]"
_WORDS_WS_SQL = (
    "list_filter(regexp_split_to_array(coalesce(text, ''), "
    f"'{_WS_CLASS_SQL}+'), w -> w <> '')"
)


def _dec_sum(col, alias):
    return F.sum(col.cast("decimal(20,6)")).cast("double").alias(alias)


# ------------------------------------------------------------------ queries
# P1 validation filter (reference src/models.py:78-90 empty-field drop)

def q_p1_validation_filter(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) > 0))
        .select("doc_id", "lang", "source", "n_chars")
    )


SQL_P1 = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE text IS NOT NULL AND length(trim(text)) > 0
"""

# S7 field mapping (reference src/data_loader.py:109-141)

def q_s7_field_mapping(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.col("source").alias("sources"),
        F.col("text").alias("output"),
        F.lit("").alias("input"),
    )


SQL_S7 = "SELECT doc_id AS id, source AS sources, text AS output, '' AS input FROM documents"


# S7b: open-map metadata absorption (reference src/data_loader.py:116-125
# folds unmapped source columns into a dynamic `metadata` dict, JSON-
# encoded at publish time by scripts/run_assessment.py:190-196). The map
# column itself isn't hash-comparable across engines, so the query pins
# both its ENTRIES (scalar lookups) and the published JSON encoding.

def q_s7_metadata_absorb(spark, sf_dir):
    from ..sources.readers import apply_field_mapping, metadata_to_json

    mapped = apply_field_mapping(
        _t(spark, sf_dir, "documents"),
        {"id": "doc_id", "body": "text"},
        absorb_metadata=True,
    )
    m = F.col("metadata")
    return mapped.select(
        "id", "body",
        m["lang"].alias("m_lang"),
        m["source"].alias("m_source"),
        m["n_chars"].alias("m_n_chars"),
        metadata_to_json().alias("metadata_json"),
    )


def _sql_s7_metadata_absorb() -> str:
    # sorted leftover keys: lang, n_chars, source (to_json of the sorted
    # map renders exactly this order); values are strings, so all quoted
    json_expr = (
        "'{\"lang\":\"' || " + _json_str_sql("lang")
        + " || '\",\"n_chars\":\"' || CAST(n_chars AS VARCHAR)"
        + " || '\",\"source\":\"' || " + _json_str_sql("source") + " || '\"}'"
    )
    return f"""
SELECT doc_id AS id, text AS body,
       lang AS m_lang, source AS m_source,
       CAST(n_chars AS VARCHAR) AS m_n_chars,
       {json_expr} AS metadata_json
FROM documents
"""

# P4 weighted score (reference src/processor.py:200-221) — deterministic
# proxy dims from portable per-row signals.

def _p4_frame(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    n_words = F.size(_words(F.col("text"))).cast("double")
    d_len = F.least(n_words / F.lit(100.0), F.lit(1.0)) * 10.0
    d_chars = F.least(F.col("n_chars").cast("double") / F.lit(500.0), F.lit(1.0)) * 10.0
    score = F.lit(0.6) * d_len + F.lit(0.4) * d_chars
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        score.alias("score"),
    )


def q_p4_weighted_score(spark, sf_dir):
    return _p4_frame(spark, sf_dir)


SQL_P4 = f"""
SELECT doc_id,
       CAST(len({_WORDS_SQL}) AS DOUBLE) AS n_words,
       0.6 * (least(CAST(len({_WORDS_SQL}) AS DOUBLE) / 100.0, 1.0) * 10.0)
     + 0.4 * (least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 10.0) AS score
FROM documents
"""

# P3 normalization clamp (reference src/processor.py:302-311)

def q_p3_normalization(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.least(F.col("n_chars").cast("double") / F.lit(50.0), F.lit(10.0)).alias("norm_score"),
    )


SQL_P3 = "SELECT doc_id, least(CAST(n_chars AS DOUBLE) / 50.0, 10.0) AS norm_score FROM documents"

# F1 score/category filter (reference src/processor.py:423-435)

def q_f1_keep_filter(spark, sf_dir):
    return (
        _p4_frame(spark, sf_dir)
        .join(_t(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id")
        .filter((F.col("score") >= 6.0) & F.col("lang").isin("en", "es", "fr"))
        .select("doc_id", "lang", "score")
    )


SQL_F1 = f"""
WITH scored AS ({SQL_P4})
SELECT s.doc_id, d.lang, s.score
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
WHERE s.score >= 6.0 AND d.lang IN ('en','es','fr')
"""

# F2 keep/drop split — drop lane (reference src/processor.py:363-402)

def q_f2_drop_lane(spark, sf_dir):
    return (
        _p4_frame(spark, sf_dir)
        .join(_t(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id")
        .filter(~((F.col("score") >= 6.0) & F.col("lang").isin("en", "es", "fr")))
        .select("doc_id", "lang", "score")
    )


SQL_F2 = f"""
WITH scored AS ({SQL_P4})
SELECT s.doc_id, d.lang, s.score
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
WHERE NOT (s.score >= 6.0 AND d.lang IN ('en','es','fr'))
"""

# A1 batch metrics (reference src/processor.py:404-421)

def q_a1_batch_metrics(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count("*").alias("total_items"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            _dec_sum(F.col("n_chars"), "sum_chars"),
        )
        .withColumn("avg_chars", F.col("sum_chars") / F.col("total_items"))
    )


SQL_A1 = """
SELECT source,
       COUNT(*) AS total_items,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       CAST(SUM(CAST(n_chars AS DECIMAL(20,6))) AS DOUBLE) AS sum_chars,
       CAST(SUM(CAST(n_chars AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents GROUP BY source
"""

# A3 group-by-source distribution (reference src/utils/dataset_utils.py:103-133)

def q_a3_source_distribution(spark, sf_dir):
    # One scan: the denominator is a window sum over the ~20-row grouped
    # result (an unpartitioned window over the AGGREGATE, not the table —
    # a plan-build-time df.count() here would scan the table twice).
    df = _t(spark, sf_dir, "documents")
    grouped = df.groupBy("source").agg(F.count("*").alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    return grouped.withColumn("pct", F.col("n").cast("double") / total.cast("double"))


SQL_A3 = """
SELECT source, COUNT(*) AS n,
       CAST(COUNT(*) AS DOUBLE) / CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) AS pct
FROM documents GROUP BY source
"""

# A4 token statistics (reference scripts/check_tokens.py:10-45)

def q_a4_token_stats(spark, sf_dir):
    # DECIMAL(20,6) parity discipline exactly as a1_batch_metrics: the sum
    # is exact decimal in both engines, avg derives from it — no
    # long-vs-int128→double divergence in the value hash.
    df = _t(spark, sf_dir, "documents")
    n_tokens = F.size(_words(F.col("text"))).cast("long")
    return (
        df.select("lang", n_tokens.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            _dec_sum(F.col("n_tokens"), "total_tokens"),
            F.count("*").alias("n_docs"),
        )
        .withColumn("avg_tokens", F.col("total_tokens") / F.col("n_docs"))
    )


SQL_A4 = f"""
SELECT lang,
       CAST(SUM(CAST(len({_WORDS_SQL}) AS DECIMAL(20,6))) AS DOUBLE) AS total_tokens,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(len({_WORDS_SQL}) AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM documents GROUP BY lang
"""

# A8 per-source language roster: sorted-distinct set agg rendered as a
# canonical CSV string. collect_set here is BOUNDED (≤ #languages per
# group — an enum, not row-scaled), so the aggregation state stays tiny
# at any corpus size; the sort canonicalizes engine-dependent set order.

def q_a8_langs_per_source(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
            F.count_distinct("lang").alias("n_langs"),
        )
    )


SQL_A8_LANGS = """
SELECT source,
       string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
       COUNT(DISTINCT lang) AS n_langs
FROM documents GROUP BY source
"""

# P2 topical category classification (reference DataCategory
# src/models.py:6-15, config/category.yaml:2-41) — deterministic 8-way
# marker-scoring replacement for the LLM's category pick.

def _category_cte_sql(from_table: str = "documents") -> str:
    """WITH-clauses computing s_<cat> scores + the final CASE, reusable by
    every category-bearing oracle query."""
    from ..functions.category import category_scores_sql, category_tokens_sql

    score_exprs = ",\n    ".join(
        f"{sql} AS s_{cat.lower()}" for cat, sql in category_scores_sql().items()
    )
    return (
        f"cat_tokens AS (SELECT *, {category_tokens_sql()} AS t FROM {from_table}),\n"
        f"cat_scores AS (SELECT *, {score_exprs} FROM cat_tokens)"
    )


def _category_case() -> str:
    from ..functions.category import category_case_sql

    return category_case_sql()


def _with_category(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``_category`` with the lowered text and the 8 scores
    materialized as real columns first — the argmax CASE references every
    score ~9× and each score is one regex pass over the lowered text."""
    from ..functions.category import (
        category_label_from_scores,
        category_scores_from_lower,
        lower_col,
    )

    df = df.withColumn("_cat_t", lower_col(F.col(text_col)))
    scores = category_scores_from_lower(F.col("_cat_t"))
    df = df.select("*", *[v.alias(f"_cs_{c}") for c, v in scores.items()])
    return df.withColumn(
        "_category",
        category_label_from_scores({c: F.col(f"_cs_{c}") for c in scores}),
    )


def q_p2_category(spark, sf_dir):
    return _with_category(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.col("_category").alias("category")
    )


def _sql_p2() -> str:
    return f"""
WITH {_category_cte_sql()}
SELECT doc_id, {_category_case()} AS category FROM cat_scores
"""


# F1 variant on the classified category (reference src/processor.py:432:
# score >= min_score AND category IN allowed_categories)

_F1_ALLOWED_CATS = ("KNOWLEDGE_QA", "CODE_GENERATION", "REASONING", "ANALYSIS_SUMMARY")


def q_f1_category_filter(spark, sf_dir):
    df = _with_category(_t(spark, sf_dir, "documents"))
    n_words = F.size(_words(F.col("text"))).cast("double")
    score = (
        F.lit(0.6) * (F.least(n_words / F.lit(100.0), F.lit(1.0)) * 10.0)
        + F.lit(0.4) * (F.least(F.col("n_chars").cast("double") / F.lit(500.0), F.lit(1.0)) * 10.0)
    )
    return (
        df.select(
            "doc_id",
            F.col("_category").alias("category"),
            score.alias("score"),
        )
        .filter((F.col("score") >= 5.0) & F.col("category").isin(*_F1_ALLOWED_CATS))
    )


def _sql_f1_category() -> str:
    cats = ", ".join(f"'{c}'" for c in _F1_ALLOWED_CATS)
    return f"""
WITH {_category_cte_sql()}
SELECT doc_id, {_category_case()} AS category,
       0.6 * (least(CAST(len({_WORDS_SQL}) AS DOUBLE) / 100.0, 1.0) * 10.0)
     + 0.4 * (least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) * 10.0) AS score
FROM cat_scores
WHERE score >= 5.0 AND category IN ({cats})
"""


# P10 improvement suggestions (reference ImprovementSuggestion
# src/models.py:165-169; priorities config/quality_metrics.yaml
# improvement_priority) — deterministic fired-rule rows, one row per
# (doc, fired aspect). Checks the RULE SHAPE of operators/score.py
# suggestion_structs (threshold → aspect/suggestion/priority row), not
# its exact token stats: this twin uses the oracle-portable single-space
# split while the pipeline tokenizes with \s+ and lowercases for the
# distinct ratio — the suggestion semantics themselves are covered by
# the pipeline goldens (tests/test_pipeline_golden.py).

def q_p10_improvement_suggestions(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    w = _words(F.col("text"))
    n_words = F.size(w).cast("double")
    dwr = F.when(
        F.size(w) == 0, F.lit(1.0)
    ).otherwise(F.size(F.array_distinct(w)).cast("double") / F.size(w))
    base = docs.select(
        "doc_id",
        n_words.alias("nw"),
        F.col("n_chars").cast("double").alias("nc"),
        dwr.alias("dwr"),
    )
    s_len = base.filter(F.col("nw") < 100).select(
        "doc_id",
        F.lit("length").alias("aspect"),
        F.lit("expand the document body").alias("suggestion"),
        F.when(F.col("nw") < 20, F.lit(1)).otherwise(F.lit(2)).alias("priority"),
    )
    s_chars = base.filter(F.col("nc") < 500).select(
        "doc_id",
        F.lit("chars").alias("aspect"),
        F.lit("add substantive content").alias("suggestion"),
        F.when(F.col("nc") < 100, F.lit(1)).otherwise(F.lit(2)).alias("priority"),
    )
    s_div = base.filter(F.col("dwr") < 0.5).select(
        "doc_id",
        F.lit("diversity").alias("aspect"),
        F.lit("reduce repetition").alias("suggestion"),
        F.when(F.col("dwr") < 0.2, F.lit(1)).otherwise(F.lit(3)).alias("priority"),
    )
    return s_len.unionByName(s_chars).unionByName(s_div)


SQL_P10 = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({_WORDS_SQL}) AS DOUBLE) AS nw,
         CAST(n_chars AS DOUBLE) AS nc,
         CASE WHEN len({_WORDS_SQL}) = 0 THEN 1.0
              ELSE CAST(len(list_distinct({_WORDS_SQL})) AS DOUBLE)
                   / CAST(len({_WORDS_SQL}) AS DOUBLE) END AS dwr
  FROM documents
)
SELECT doc_id, 'length' AS aspect, 'expand the document body' AS suggestion,
       CASE WHEN nw < 20 THEN 1 ELSE 2 END AS priority
FROM base WHERE nw < 100
UNION ALL
SELECT doc_id, 'chars', 'add substantive content',
       CASE WHEN nc < 100 THEN 1 ELSE 2 END
FROM base WHERE nc < 500
UNION ALL
SELECT doc_id, 'diversity', 'reduce repetition',
       CASE WHEN dwr < 0.2 THEN 1 ELSE 3 END
FROM base WHERE dwr < 0.5
"""


# J1 anti-join resume (reference src/data_transformer.py:458-473)

def q_j1_anti_join_resume(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    committed = df.filter(F.pmod(F.col("doc_id"), 10) < 3).select("doc_id")
    return df.join(committed, "doc_id", "left_anti").select("doc_id", "source")


SQL_J1 = """
SELECT doc_id, source FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 10 < 3)
"""

# J2 last-wins merge dedup (reference src/data_transformer.py:303-311)

def q_j2_last_wins_dedup(spark, sf_dir):
    df = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = df.withColumn("ingest_order", F.lit(1)).withColumn("payload", F.col("text"))
    v2 = (
        df.filter(F.pmod(F.col("doc_id"), 3) == 0)
        .withColumn("ingest_order", F.lit(2))
        .withColumn("payload", F.concat(F.lit("v2:"), F.col("text")))
    )
    unioned = v1.unionByName(v2)
    w = Window.partitionBy("doc_id").orderBy(F.col("ingest_order").desc())
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "ingest_order", F.md5(F.col("payload")).alias("payload_md5"))
    )


SQL_J2 = """
WITH unioned AS (
  SELECT doc_id, 1 AS ingest_order, text AS payload FROM documents
  UNION ALL
  SELECT doc_id, 2 AS ingest_order, 'v2:' || text AS payload FROM documents WHERE doc_id % 3 = 0
), ranked AS (
  SELECT doc_id, ingest_order, payload,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ingest_order DESC) AS rn
  FROM unioned
)
SELECT doc_id, ingest_order, md5(payload) AS payload_md5 FROM ranked WHERE rn = 1
"""

# U1 union across datasets (reference src/data_loader.py:56-68)

def q_u1_union(spark, sf_dir):
    df = _t(spark, sf_dir, "documents")
    en = df.filter(F.col("lang") == "en").withColumn("dataset", F.lit("ds_en"))
    es = df.filter(F.col("lang") == "es").withColumn("dataset", F.lit("ds_es"))
    return en.unionByName(es).select("doc_id", "dataset", "lang")


SQL_U1 = """
SELECT doc_id, 'ds_en' AS dataset, lang FROM documents WHERE lang = 'en'
UNION ALL
SELECT doc_id, 'ds_es' AS dataset, lang FROM documents WHERE lang = 'es'
"""

# O1+L1 sort + limit (reference src/data_transformer.py:311; data_loader.py:100)

def q_o1_sort_limit(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(100)
        .select("doc_id", "source", "n_chars")
    )


SQL_O1 = "SELECT doc_id, source, n_chars FROM documents ORDER BY doc_id LIMIT 100"

# O2 top-N per group (row_number window — the per-language "best docs"
# report; one shuffle on lang, per-partition heap, deterministic
# tie-break on doc_id ASC)

def q_o2_topn_per_group(spark, sf_dir):
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _t(spark, sf_dir, "documents")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("lang", "doc_id", "n_chars", "rn")
    )


SQL_O2_TOPN = """
SELECT lang, doc_id, n_chars,
       row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rn
FROM documents
QUALIFY rn <= 3
"""

# S3 deterministic sampling (reference src/data_loader.py:97-100, seed=42)

def q_s3_sample(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.pmod(F.col("doc_id"), 20) == 0)
        .select("doc_id", "lang")
    )


SQL_S3 = "SELECT doc_id, lang FROM documents WHERE doc_id % 20 = 0"

# Exact dedup (hash-groupBy)

def q_dedup_exact(spark, sf_dir):
    from ..operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.md5(F.col("text")).alias("text_md5")
    )


SQL_DEDUP_EXACT = """
SELECT min(doc_id) AS doc_id, md5(text) AS text_md5 FROM documents GROUP BY md5(text)
"""

# Word-set dedup (n-gram Jaccard = 1 on unigram sets)

def q_dedup_wordset(spark, sf_dir):
    from ..operators.dedup import wordset_dedup

    return wordset_dedup(_t(spark, sf_dir, "documents")).select("doc_id")


SQL_DEDUP_WORDSET = f"""
WITH keyed AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct({_WORDS_WS_SQL})), ' ')) AS k
  FROM documents
)
SELECT min(doc_id) AS doc_id FROM keyed GROUP BY k
"""

# MinHash LSH candidate pairs (shingle→minhash→band→bucket-join)

def q_dedup_minhash_pairs(spark, sf_dir):
    from ..operators.dedup import minhash_candidate_pairs

    return minhash_candidate_pairs(_t(spark, sf_dir, "documents"))


# DuckDB twin of the MinHash/band construction (operators/dedup.py): word
# 3-gram shingles, each keyed to the 60-bit long of its md5 prefix; h_j is
# the min over the keys of (a_j·x + b_j) mod (2^61 − 1), reduced in the
# operator's exact 64-bit steps with its MINHASH_COEFFS; a band key is the
# list of its 2 min-hashes
# (4 bands × 2 rows). A blank text is the one shingle '' as in Spark
# (DuckDB's array_to_string of an empty list is NULL, hence the coalesce).
_SHINGLES_SQL = f"""
CASE WHEN len({_WORDS_WS_SQL}) < 3
     THEN [coalesce(array_to_string({_WORDS_WS_SQL}, ' '), '')]
     ELSE [array_to_string(({_WORDS_WS_SQL})[i:i+2], ' ')
           FOR i IN range(1, len({_WORDS_WS_SQL}) - 1)]
END
"""


def _minhash_hash_sql(j: int, x: str) -> str:
    from ..operators.dedup import MINHASH_COEFFS, MINHASH_PRIME, MINHASH_SPLIT

    a, b = MINHASH_COEFFS[j]
    a1, a0 = a >> MINHASH_SPLIT, a & ((1 << MINHASH_SPLIT) - 1)
    x1, x0 = f"({x} >> {MINHASH_SPLIT})", f"({x} & {(1 << MINHASH_SPLIT) - 1})"
    m = f"({a1} * {x0} + {a0} * {x1})"
    s = (f"{2 * a1} * {x1} + ({m} >> 30) + (({m} & {(1 << 30) - 1}) << {MINHASH_SPLIT}) "
         f"+ {a0} * {x0}")
    return f"(({s}) % {MINHASH_PRIME} + {b}) % {MINHASH_PRIME}"


def _minhash_sql(j: int) -> str:
    keys = "[CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) FOR s IN sh]"
    return f"list_min([{_minhash_hash_sql(j, 'x')} FOR x IN {keys}])"


def _bands_sql_over(sigs: str) -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"[{_minhash_sql(2 * b)}, {_minhash_sql(2 * b + 1)}] AS band_key FROM {sigs}"
        for b in range(4)
    )


_BANDS_SQL = _bands_sql_over("sigs")

SQL_DEDUP_MINHASH_PAIRS = f"""
WITH sigs AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
bands AS ({_BANDS_SQL})
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_key = r.band_key
WHERE l.doc_id < r.doc_id
"""

# n-gram Jaccard near-dup pairs: LSH candidates + exact shingle-Jaccard
# verify with the jaccard VALUES exposed. dedup_minhash_full only checks
# the surviving keep set; this pins the verify stage's similarity
# arithmetic (intersection/union ratio) itself against the oracle.

def q_dedup_ngram_jaccard(spark, sf_dir):
    from ..operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5
    ).select("a", "b", F.round(F.col("jaccard"), 6).alias("jaccard"))


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH sigs AS (SELECT doc_id, {{shingles}} AS sh FROM documents),
bands AS ({{bands}}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
shd AS (SELECT doc_id, list_distinct([CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) FOR x IN sh]) AS s FROM sigs)
SELECT c.a, c.b,
       round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
             / CAST(len(list_distinct(list_cat(sa.s, sb.s))) AS DOUBLE), 6) AS jaccard
FROM cand c JOIN shd sa ON sa.doc_id = c.a JOIN shd sb ON sb.doc_id = c.b
WHERE CASE WHEN len(list_distinct(list_cat(sa.s, sb.s))) > 0
           THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                / CAST(len(list_distinct(list_cat(sa.s, sb.s))) AS DOUBLE)
           ELSE 0.0 END >= 0.5
""".replace("{shingles}", _SHINGLES_SQL).replace("{bands}", _BANDS_SQL)

# Language-ID heuristic (marker counting — column-expr variant)

def q_lang_id_heuristic(spark, sf_dir):
    from ..operators.textstats import langid_heuristic_expr

    return _t(spark, sf_dir, "documents").select(
        "doc_id", langid_heuristic_expr("text").alias("lang_pred")
    )


def _count_sql(marker: str) -> str:
    pad = f" {marker} "
    return (
        f"(length(t) - length(replace(t, '{pad}', ''))) / {len(marker) + 2}"
    )


SQL_LANG_ID = f"""
WITH padded AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
scores AS (
  SELECT doc_id,
    {_count_sql('the')} + {_count_sql('and')} + {_count_sql('is')} + {_count_sql('that')} + {_count_sql('of')} AS en,
    {_count_sql('el')} + {_count_sql('que')} + {_count_sql('los')} + {_count_sql('una')} + {_count_sql('por')} AS es,
    {_count_sql('le')} + {_count_sql('les')} + {_count_sql('dans')} + {_count_sql('est')} + {_count_sql('je')} AS fr,
    {_count_sql('der')} + {_count_sql('und')} + {_count_sql('das')} + {_count_sql('nicht')} + {_count_sql('mit')} AS de
  FROM padded
)
SELECT doc_id,
  CASE WHEN en >= es AND en >= fr AND en >= de AND en > 0 THEN 'en'
       WHEN es >= fr AND es >= de AND es > 0 THEN 'es'
       WHEN fr >= de AND fr > 0 THEN 'fr'
       WHEN de > 0 THEN 'de'
       ELSE 'und' END AS lang_pred
FROM scores
"""

# Document fingerprinting (md5 of normalized text)

def q_doc_fingerprint(spark, sf_dir):
    from ..operators.textstats import doc_fingerprint

    return _t(spark, sf_dir, "documents").select(
        "doc_id", doc_fingerprint("text").alias("fingerprint")
    )


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id, md5(lower(trim(regexp_replace(text, '{_WS_CLASS_SQL}+', ' ', 'g')))) AS fingerprint
FROM documents
"""

# Token counting (whitespace + BPE-ish regex)

def q_token_count(spark, sf_dir):
    from ..operators.textstats import whitespace_token_count

    return _t(spark, sf_dir, "documents").select(
        "doc_id", whitespace_token_count("text").alias("n_ws_tokens")
    )


# NB _WORDS_WS_SQL, not _WORDS_SQL: whitespace_token_count splits on the
# whitespace-run class, not single spaces — the two coincide on the sf
# tables (single-space text) but must not be conflated.
SQL_TOKEN_COUNT = f"SELECT doc_id, len({_WORDS_WS_SQL}) AS n_ws_tokens FROM documents"

# Corpus top-k terms (vocabulary heavy hitters) — explode → map-side-
# combined count → TakeOrderedAndProject; tie at rank k broken by term
# ASC so the selected SET is engine-deterministic.

def q_tf_top_terms(spark, sf_dir):
    from ..operators.textstats import top_terms

    return top_terms(_t(spark, sf_dir, "documents"), k=20)


SQL_TF_TOP_TERMS = f"""
SELECT term, COUNT(*) AS cnt
FROM (SELECT unnest({_WORDS_WS_SQL}) AS term FROM documents)
GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 20
"""

# Per-language EXACT token-count quantiles over a value-compressed
# histogram (operators/textstats.py token_count_quantiles): Spark's
# exact percentile() buffers every group value in executor memory — the
# 10^12-doc OOM — while the histogram form is two bounded shuffles.
# Twin: DuckDB quantile_cont, the same type-7 h = p·(n−1) interpolation.

def q_a6_token_quantiles(spark, sf_dir):
    from ..operators.textstats import token_count_quantiles

    return token_count_quantiles(_t(spark, sf_dir, "documents"))


SQL_A6_TOKEN_QUANTILES = f"""
SELECT lang,
       round(quantile_cont(v, 0.5), 6)  AS p50,
       round(quantile_cont(v, 0.9), 6)  AS p90,
       round(quantile_cont(v, 0.99), 6) AS p99
FROM (SELECT lang, len({_WORDS_WS_SQL}) AS v FROM documents)
GROUP BY lang
"""

# S3 variant: per-stratum deterministic hash sampling (md5 bucket mod
# 100 < per-language rate) — map-only, no shuffle, engine-portable.

def q_s3_stratified_sample(spark, sf_dir):
    from ..sources.readers import stratified_hash_sample

    return stratified_hash_sample(
        _t(spark, sf_dir, "documents"),
        key_col="doc_id", strata_col="lang",
        pct={"en": 5, "zh": 25}, default_pct=10,
    ).select("doc_id", "lang", "source")


SQL_S3_STRATIFIED = """
SELECT doc_id, lang, source FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
      < CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 25 ELSE 10 END
"""

# S3 variant 2: EXACTLY-N-per-stratum sample — row_number over an
# md5-keyed order inside each stratum (deterministic "shuffle"), ≤ N
# kept. One shuffle on the stratum key; rate-based sampling can't
# guarantee exact counts, this can (the reference's num_samples knob
# per dataset, re-expressed per-stratum).

def q_s3_fixed_n_per_group(spark, sf_dir):
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        _t(spark, sf_dir, "documents")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .select("doc_id", "lang")
    )


SQL_S3_FIXED_N = """
SELECT doc_id, lang FROM documents
QUALIFY row_number() OVER (PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 10
"""

# P5 unique-id generation, oracle-portable form (pipeline.uid64_md5):
# production keeps xxhash64(url) (JVM-native, not in DuckDB); this md5
# 60-bit variant pins the id CONSTRUCTION (stable key join → hash →
# long) against the oracle so P5 is no longer tests-only.

def q_p5_uid64(spark, sf_dir):
    from ..pipeline import uid64_md5

    return _t(spark, sf_dir, "documents").select(
        "doc_id", uid64_md5("source", "doc_id").alias("uid64")
    )


SQL_P5_UID64 = """
SELECT doc_id,
       CAST('0x' || substr(md5(concat_ws(':', source, CAST(doc_id AS VARCHAR))), 1, 15) AS BIGINT) AS uid64
FROM documents
"""

# PII/profanity scrub (JVM regexp chain — P7 replacement)

def q_p7_scrub(spark, sf_dir):
    from ..functions.scrub import scrub_columns

    s, c = scrub_columns(F.col("text"))
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(s).alias("scrubbed_md5"), c.alias("scrub_count")
    )


def _scrub_sql() -> str:
    from ..functions.scrub import scrub_sql_expr

    return f"SELECT doc_id, md5({scrub_sql_expr('text')}) AS scrubbed_md5, " \
           f"{_scrub_count_sql()} AS scrub_count FROM documents"


def _scrub_count_sql() -> str:
    # counts on progressively-scrubbed text, mirroring scrub_columns;
    # patterns pass through verbatim — RE2 honors inline (?i)
    from ..functions.scrub import SCRUB_RULES

    exprs = []
    t = "coalesce(text, '')"
    for _name, pat, repl in SCRUB_RULES:
        p = pat.replace("'", "''")
        exprs.append(f"len(regexp_extract_all({t}, '{p}'))")
        t = f"regexp_replace({t}, '{p}', '{repl}', 'g')"
    return "CAST(" + " + ".join(exprs) + " AS INT)"

# A2-style totals over events (sum of processing time analogue)

def q_a2_event_totals(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            _dec_sum(F.col("value"), "total_value"),
        )
    )


SQL_A2 = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""

# ------------------------------------------------- UDF- and hash-backed queries
# (pandas UDFs / engine-specific hashing. Each has a DuckDB twin except the
# flagship pipeline_score_documents, which is checked on rows only.)

# P6 error-default row (reference src/processor.py:122-146): rows that fail
# validation get zeroed scores + category 'ERROR' instead of being dropped.

def q_p6_error_default(spark, sf_dir):
    docs = _with_category(_t(spark, sf_dir, "documents"))
    ok = F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) > 0) & (
        F.size(_words(F.col("text"))) >= 3
    )
    return docs.select(
        "doc_id",
        F.when(ok, F.least(F.col("n_chars").cast("double") / 50.0, F.lit(10.0)))
        .otherwise(F.lit(0.0))
        .alias("score"),
        # valid rows get the real 8-way DataCategory label; invalid rows get
        # the reference's error lane (src/processor.py:138 category='ERROR')
        F.when(ok, F.col("_category")).otherwise(F.lit("ERROR")).alias("category"),
    )


def _sql_p6() -> str:
    return f"""
WITH {_category_cte_sql()}
SELECT doc_id,
       CASE WHEN text IS NOT NULL AND length(trim(text)) > 0
                 AND len({_WORDS_SQL}) >= 3
            THEN least(CAST(n_chars AS DOUBLE) / 50.0, 10.0) ELSE 0.0 END AS score,
       CASE WHEN text IS NOT NULL AND length(trim(text)) > 0
                 AND len({_WORDS_SQL}) >= 3
            THEN {_category_case()} ELSE 'ERROR' END AS category
FROM cat_scores
"""

# P8 cost arithmetic (reference src/data_transformer.py:181-192 tokens*price/1e6)

def q_p8_cost(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(_words(F.col("text"))).cast("double")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(n_tok * F.lit(0.14) / F.lit(1e6), 10).alias("input_cost"),
        F.round(n_tok * F.lit(0.28) / F.lit(1e6), 10).alias("output_cost"),
    )


SQL_P8 = f"""
SELECT doc_id,
       CAST(len({_WORDS_SQL}) AS DOUBLE) AS n_tokens,
       round(CAST(len({_WORDS_SQL}) AS DOUBLE) * 0.14 / 1000000.0, 10) AS input_cost,
       round(CAST(len({_WORDS_SQL}) AS DOUBLE) * 0.28 / 1000000.0, 10) AS output_cost
FROM documents
"""

# P9 format conversion (reference src/models.py:100-124 ProcessedItem →
# EnhancedAlpacaItem flattening): reshape + flatten into the publish envelope.

def _json_str(c: F.Column) -> F.Column:
    """JSON string-escape (backslash then quote) — literal replaces, so the
    oracle twin is the identical replace chain, not an engine JSON codec."""
    return F.replace(
        F.replace(c, F.lit("\\"), F.lit("\\\\")), F.lit('"'), F.lit('\\"')
    )


def _json_str_sql(expr: str) -> str:
    return f"replace(replace({expr}, '\\', '\\\\'), '\"', '\\\"')"


def q_p9_format_conversion(spark, sf_dir):
    docs = _with_category(_t(spark, sf_dir, "documents"))
    return docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("id"),
        F.col("text").alias("output"),
        F.lit("").alias("input"),
        F.col("source").alias("sources"),
        # the publish envelope's category is the classified DataCategory
        # (reference src/models.py:100-124), not the input language
        F.col("_category").alias("category"),
        F.least(F.col("n_chars").cast("double") / 50.0, F.lit(10.0)).alias("score"),
        # TokenInfo envelope (reference src/data_types.py:6-12): token
        # count + estimated cost ride the published record.
        F.size(_words(F.col("text"))).cast("long").alias("total_tokens"),
        F.round(
            F.size(_words(F.col("text"))).cast("double") * F.lit(1.0) / F.lit(1e6), 10
        ).alias("estimated_cost"),
        F.concat(
            F.lit('{"source":"'), _json_str(F.col("source")), F.lit('","lang":"'),
            _json_str(F.col("lang")), F.lit('"}'),
        ).alias("metadata_json"),
    )


def _sql_p9() -> str:
    return f"""
WITH {_category_cte_sql()}
SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS id,
       text AS output, '' AS input, source AS sources,
       {_category_case()} AS category,
       least(CAST(n_chars AS DOUBLE) / 50.0, 10.0) AS score,
       CAST(len({_WORDS_SQL}) AS BIGINT) AS total_tokens,
       round(CAST(len({_WORDS_SQL}) AS DOUBLE) * 1.0 / 1000000.0, 10) AS estimated_cost,
       '{{"source":"' || {_json_str_sql('source')} || '","lang":"' || {_json_str_sql('lang')} || '"}}' AS metadata_json
FROM cat_scores
"""


# MinHash dedup end-to-end: candidate pairs (construction above) + exact
# shingle-Jaccard verify + anti-join of verified higher-id duplicates.

SQL_DEDUP_MINHASH_FULL = f"""
WITH sigs AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
shd AS (SELECT doc_id, list_distinct([CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) FOR x IN sh]) AS s FROM sigs),
dups AS (
  SELECT DISTINCT c.b
  FROM cand c JOIN shd sa ON sa.doc_id = c.a JOIN shd sb ON sb.doc_id = c.b
  WHERE CASE WHEN len(list_distinct(list_cat(sa.s, sb.s))) > 0
             THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / CAST(len(list_distinct(list_cat(sa.s, sb.s))) AS DOUBLE)
             ELSE 0.0 END >= 0.7
)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT b FROM dups)
"""


# Connected-components dedup: verified MinHash pairs as edges, each
# component collapses to its min id. Oracle twin: recursive-CTE label
# spread (min reachable id per node) — fixture components are tiny, so
# the closure enumeration is bounded.

def q_dedup_cc(spark, sf_dir):
    from ..operators.dedup import cc_dedup

    return cc_dedup(_t(spark, sf_dir, "documents"), threshold=0.7).select("doc_id")


# Shared recursive-CTE prefix: verified near-dup edges -> per-node
# component labels (min reachable id). Composed by SQL_DEDUP_CC (keep
# set) and SQL_CC_HISTOGRAM (cluster-size census).
_CC_COMP_SQL = f"""
WITH RECURSIVE sigs AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
shd AS (SELECT doc_id, list_distinct([CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) FOR x IN sh]) AS s FROM sigs),
verified AS (
  SELECT c.a, c.b
  FROM cand c JOIN shd sa ON sa.doc_id = c.a JOIN shd sb ON sb.doc_id = c.b
  WHERE CASE WHEN len(list_distinct(list_cat(sa.s, sb.s))) > 0
             THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / CAST(len(list_distinct(list_cat(sa.s, sb.s))) AS DOUBLE)
             ELSE 0.0 END >= 0.7
),
edges AS (SELECT a AS u, b AS v FROM verified UNION SELECT b, a FROM verified),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON reach.u = e.u
),
comp AS (SELECT u AS node, min(r) AS comp FROM reach GROUP BY u)"""

SQL_DEDUP_CC = f"""{_CC_COMP_SQL}
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> comp)
"""

SQL_CC_HISTOGRAM = f"""{_CC_COMP_SQL},
allc AS (
  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
sizes AS (SELECT comp, COUNT(*) AS n FROM allc GROUP BY comp)
SELECT n AS cluster_size, COUNT(*) AS n_clusters, CAST(SUM(n) AS BIGINT) AS n_docs
FROM sizes GROUP BY n
"""


# SimHash dedup end-to-end: 64-bit md5-derived fingerprints (two 32-bit
# token-hash halves) with packed 16-bit vote lanes, 4×16-bit band
# candidates, popcount verify, exact-collapse pre-step, anti-join — the
# DuckDB twin mirrors the packed-lane construction bit for bit, incl.
# fingerprint bit 63 as the INT64_MIN addend applied last (partial sums
# stay in range) and mask-after-arithmetic-shift band keys (sign-fill
# never reaches a key; DuckDB >> on BIGINT is arithmetic like Spark's).
# The collapse_exact pre-step needs NO twin-side counterpart: identical
# text ⇒ identical fingerprint ⇒ hamming 0 ⇒ the band join + pair policy
# drops exactly the same higher-id rows the collapse does.

def _sql_dedup_simhash(max_hamming: int = 3) -> str:
    lanes = []
    for j in range(16):
        terms = []
        for r in range(4):
            i = 4 * j + r
            src, shift = ("hl", i) if i < 32 else ("hh", i - 32)
            terms.append(f"(({src} >> {shift}) & 1) * {1 << (16 * r)}")
        lanes.append(f"SUM({' + '.join(terms)}) AS l{j}")
    fp_terms = []
    for i in range(64):
        j, r = divmod(i, 4)
        addend = str(1 << i) if i < 63 else "(-9223372036854775807 - 1)"
        fp_terms.append(
            f"CASE WHEN ((l{j} >> {16 * r}) & 65535) * 2 > n THEN {addend} ELSE 0 END"
        )
    fp_expr = "\n       + ".join(fp_terms)
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, (fp >> {16 * b}) & 65535 AS band_key FROM fp"
        for b in range(4)
    )
    return f"""
WITH ex AS (
  SELECT doc_id, unnest(({_WORDS_WS_SQL})[1:32767]) AS w FROM documents
),
h AS (SELECT doc_id,
             CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS hl,
             CAST('0x' || substr(md5(w), 9, 8) AS BIGINT) AS hh
      FROM ex),
votes AS (SELECT doc_id, count(*) AS n, {', '.join(lanes)} FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, {fp_expr} AS fp FROM votes),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
dups AS (
  SELECT DISTINCT c.b
  FROM cand c JOIN fp fa ON fa.doc_id = c.a JOIN fp fb ON fb.doc_id = c.b
  WHERE bit_count(xor(fa.fp, fb.fp)) <= {max_hamming}
)
SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT b FROM dups)
"""


# Multimodal features: byte entropy over the UTF-8 payload, DuckDB twin
# via hex-string byte extraction (2 hex chars per byte), entropy rounded
# to 6dp on both sides to absorb summation-order ulps.

SQL_MULTIMODAL = """
WITH b AS (SELECT doc_id, hex(encode(coalesce(text, ''))) AS h FROM documents),
ex AS (SELECT doc_id, h, unnest(range(len(h) // 2)) AS i FROM b),
bytes AS (SELECT doc_id, substr(h, CAST(2 * i + 1 AS INT), 2) AS byte, len(h) // 2 AS n FROM ex),
cnt AS (SELECT doc_id, any_value(n) AS n, byte, count(*) AS c FROM bytes GROUP BY doc_id, byte),
ent AS (
  SELECT doc_id, any_value(n) AS n_bytes,
         abs(round(-SUM((CAST(c AS DOUBLE) / n) * log2(CAST(c AS DOUBLE) / n)), 6)) AS byte_entropy
  FROM cnt GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(e.n_bytes, 1) AS n_bytes,
       coalesce(e.byte_entropy, 0.0) AS byte_entropy
FROM documents d LEFT JOIN ent e ON d.doc_id = e.doc_id
"""


# S8 output naming, oracle-paired: the sinks.output_name convention
# (task_dataset_count with [^A-Za-z0-9_.-]+ squashed to '-',
# sources/sinks.py:29-39, reference generate_output_filename
# src/data_loader.py:143-171) computed DISTRIBUTED — one output name per
# source partition with its row count baked in, the shape a per-segment
# sink would use. tests/test_sources.py pins column-expr ≡ the driver-side
# Python function on every fixture source.

def q_s8_output_naming(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_rows"))
        .select(
            "source",
            F.concat(
                F.lit("assessment_"),
                F.regexp_replace(F.col("source"), "[^A-Za-z0-9_.-]+", "-"),
                F.lit("_"), F.col("n_rows").cast("string"),
            ).alias("output_name"),
            "n_rows",
        )
    )


SQL_S8_OUTPUT_NAMING = """
SELECT source,
       'assessment_' || regexp_replace(source, '[^A-Za-z0-9_.-]+', '-', 'g')
           || '_' || CAST(count(*) AS VARCHAR) AS output_name,
       count(*) AS n_rows
FROM documents GROUP BY source
"""


def q_pipeline_score_documents(spark, sf_dir):
    """Flagship: full deterministic scoring pipeline over `documents`."""
    from ..operators.score import QualityConfig
    from ..pipeline import score_webtext

    docs = _t(spark, sf_dir, "documents")
    cfg = QualityConfig(require_lang_match=False, min_words=10)
    scored = score_webtext(docs, cfg, text_col="text", declared_lang_col="lang")
    return scored.select(
        "doc_id", "pred_lang", "category", "ppl", "score", "keep", "scrub_count"
    )


def q_dedup_minhash_full(spark, sf_dir):
    """MinHash dedup end-to-end (candidates → Jaccard verify → anti-join)."""
    from ..operators.dedup import minhash_dedup

    return minhash_dedup(_t(spark, sf_dir, "documents"), threshold=0.7).select("doc_id")


def q_dedup_simhash(spark, sf_dir):
    from ..operators.dedup import simhash_dedup

    return simhash_dedup(_t(spark, sf_dir, "documents"), max_hamming=3).select("doc_id")


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing demo: documents' text bytes as an opaque binary
    payload → mapInPandas decode-stub → per-doc features + stub embedding."""
    from ..operators.multimodal import media_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/html").alias("mime"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("media_meta"),
    )
    # abs() absorbs the -0.0 a single-distinct-byte payload produces
    return media_features(media).select(
        "doc_id", "n_bytes", F.abs(F.round(F.col("byte_entropy"), 6)).alias("byte_entropy")
    )


# ------------------------------------------------------------------
# score_core: oracle coverage for the flagship's scoring expression tree
# (operators/score.py:66-213 — dimension ramps, weighted score, keep
# predicate). pipeline_score_documents stays rows-only because langid/ppl
# are frozen models, but everything DOWNSTREAM of those signals is pure
# arithmetic — so this query feeds deterministic FIXTURE signals (derived
# from doc_id/n_chars with oracle-portable arithmetic, spanning every
# ramp's clip points and every keep bound) through the real shipped
# functions, leaving only the two models themselves golden-only.

# (name, column-builder taking the doc_id Column, duckdb SQL) — each
# signal sweeps across its ramp/bound so clip floors, ceilings, and both
# keep branches are all exercised. Column construction is DEFERRED via
# the builder lambdas: pyspark-classic Column creation asserts an active
# SparkContext, and oracle_map() must stay callable without one (the
# driver may ask for the SQL strings before it opens a session).
_SCORE_CORE_FIXTURE_SPECS = [
    # pred_lang: 20% forced-mismatch lane exercises lang_agree=0.2
    ("pred", lambda d: F.when(d % 5 == 0, F.lit("xx")).otherwise(F.col("lang")),
     "CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END"),
    # NB every SQL literal below carries ::DOUBLE — DuckDB parses bare
    # decimal literals as exact DECIMAL and would do exact-rational
    # fixture arithmetic where Spark does IEEE double, a 1-ULP
    # divergence that flips 2dp rounding on boundary rows.
    ("ls", lambda d: F.lit(0.25) + (d % 7) * F.lit(0.08),
     "0.25::DOUBLE + (doc_id % 7) * 0.08::DOUBLE"),        # crosses 0.5 clip
    ("ppl", lambda d: F.lit(12.0) + (d % 40) * F.lit(12.0),
     "12.0::DOUBLE + (doc_id % 40) * 12.0::DOUBLE"),       # 12..480 spans good..bad
    ("nc", lambda d: F.col("n_chars").cast("double"), "CAST(n_chars AS DOUBLE)"),
    ("nw", lambda d: (d % 150 + 10).cast("double"),
     "CAST(doc_id % 150 + 10 AS DOUBLE)"),                 # crosses min_words 25
    ("mwl", lambda d: F.lit(1.0) + (d % 16),
     "1.0::DOUBLE + (doc_id % 16)"),                       # crosses [1.5,14]
    ("swr", lambda d: (d % 11) / F.lit(40.0), "(doc_id % 11) / 40.0::DOUBLE"),
    ("symr", lambda d: (d % 13) / F.lit(80.0),
     "(doc_id % 13) / 80.0::DOUBLE"),                      # crosses 0.10
    ("dlf", lambda d: (d % 9) / F.lit(20.0),
     "(doc_id % 9) / 20.0::DOUBLE"),                       # crosses 0.30
    ("ar", lambda d: F.lit(0.5) + (d % 6) / F.lit(10.0),
     "0.5::DOUBLE + (doc_id % 6) / 10.0::DOUBLE"),         # crosses 0.8
    ("cjkr", lambda d: (d % 4) / F.lit(5.0),
     "(doc_id % 4) / 5.0::DOUBLE"),                        # crosses 0.5 clip
    ("ncjk", lambda d: ((d % 12) * 5).cast("double"),
     "CAST((doc_id % 12) * 5 AS DOUBLE)"),                 # crosses 30
    ("dwr", lambda d: (d % 10) / F.lit(10.0),
     "(doc_id % 10) / 10.0::DOUBLE"),                      # crosses 0.2/0.25
]


def _score_core_fixtures():
    """(name, spark Column, duckdb SQL) triples. Needs an active session
    (Column construction); the SQL-only view below does not."""
    d = F.col("doc_id")
    return [(n, build(d), sql) for n, build, sql in _SCORE_CORE_FIXTURE_SPECS]


def _score_core_fixture_sql():
    """(name, duckdb SQL) pairs — context-free twin for oracle_map()."""
    return [(n, sql) for n, _, sql in _SCORE_CORE_FIXTURE_SPECS]


def q_score_core(spark, sf_dir):
    from ..operators.score import (
        QualityConfig,
        dimension_columns,
        keep_column,
        weighted_score,
    )

    cfg = QualityConfig()
    docs = _t(spark, sf_dir, "documents")
    fx = docs.select(
        "doc_id", "lang", *[c.alias(n) for n, c, _ in _score_core_fixtures()]
    )
    h = {
        "n_chars": F.col("nc"), "n_words": F.col("nw"),
        "mean_word_len": F.col("mwl"), "stopword_ratio": F.col("swr"),
        "symbol_ratio": F.col("symr"), "dup_line_frac": F.col("dlf"),
        "alpha_ratio": F.col("ar"), "cjk_ratio": F.col("cjkr"),
        "n_cjk": F.col("ncjk"), "distinct_word_ratio": F.col("dwr"),
    }
    dims = dimension_columns(h, F.col("pred"), F.col("ls"), F.col("ppl"),
                             F.col("lang"), cfg)
    with_dims = fx.withColumns({k: v for k, v in dims.items()})
    score = weighted_score({k: F.col(k) for k in dims}, cfg)
    scored = with_dims.withColumn("score", score)
    keep = keep_column(F.col("score"), F.col("pred"), h, F.col("lang"), cfg)
    return scored.select(
        "doc_id",
        # dims rounded to 4dp: kills cross-engine log2 ULP noise while
        # still pinning every ramp value; score keeps the shipped 2dp
        *[F.round(F.col(k), 4).alias(k) for k in dims],
        "score",
        keep.cast("int").alias("keep"),
    )


def _sql_score_core() -> str:
    from ..functions.perplexity import PPL_CALIBRATION
    from ..operators.score import QualityConfig

    cfg = QualityConfig()
    fx_cols = ",\n    ".join(f"{sql} AS {n}" for n, sql in _score_core_fixture_sql())
    total_w = cfg.w_lang + cfg.w_fluency + cfg.w_clarity + cfg.w_clean + cfg.w_structure
    clip = lambda e: f"least(greatest({e}, 0.0), 1.0)"
    # Per-language ppl calibration CASE (mirrors dimension_columns'
    # PPL_CALIBRATION dispatch; ::DOUBLE defeats DuckDB DECIMAL literals).
    # 'und' is excluded from the CASE on both engines: it rides the ELSE,
    # which carries the RESOLVED cfg fallback (frozen pooled-'und'
    # calibration unless the user overrides ppl_good/ppl_bad).
    res_good, res_bad = cfg.resolved_ppl_levels()
    pplg = " ".join(f"WHEN pred = '{la}' THEN {g!r}::DOUBLE"
                    for la, (g, _) in PPL_CALIBRATION.items() if la != "und")
    pplb = " ".join(f"WHEN pred = '{la}' THEN {b!r}::DOUBLE"
                    for la, (_, b) in PPL_CALIBRATION.items() if la != "und")
    d_fluency_ramp = clip(
        "1.0 - log2(greatest(ppl, 1.0) / pplg) / log2(pplb / pplg)"
    )
    return f"""
WITH fx AS (
  SELECT doc_id, lang,
    {fx_cols}
  FROM documents
), cal AS (
  SELECT *,
    CASE {pplg} ELSE {res_good!r}::DOUBLE END AS pplg,
    CASE {pplb} ELSE {res_bad!r}::DOUBLE END AS pplb
  FROM fx
), dims AS (
  SELECT *,
    10.0 * {clip("ls * 2.0")} * (CASE WHEN pred = lang THEN 1.0 ELSE 0.2 END) AS d_lang,
    10.0 * {d_fluency_ramp} AS d_fluency,
    CASE WHEN pred IN ('zh','ja') THEN 10.0 * {clip("cjkr / 0.5")}
         ELSE 10.0 * {clip("swr / 0.25")} END AS d_clarity,
    5.0 * {clip(f"1.0 - symr / {cfg.max_symbol_ratio!r}")}
      + 5.0 * {clip("CASE WHEN pred IN ('zh','ja') THEN 1.0 ELSE ar / 0.8 END")} AS d_clean,
    10.0 * {clip(f"1.0 - dlf / {cfg.max_dup_line_frac!r}")}
         * {clip("dwr / 0.25")}
         * (CASE WHEN nc >= {cfg.min_chars!r} AND nc <= {cfg.max_chars!r} THEN 1.0 ELSE 0.0 END)
         * (CASE WHEN pred IN ('zh','ja') OR (mwl >= {cfg.min_mean_word_len!r} AND mwl <= {cfg.max_mean_word_len!r})
                 THEN 1.0 ELSE 0.3 END) AS d_structure
  FROM cal
), scored AS (
  SELECT *,
    round((least(d_lang, 10.0) * {cfg.w_lang!r} + least(d_fluency, 10.0) * {cfg.w_fluency!r}
         + least(d_clarity, 10.0) * {cfg.w_clarity!r} + least(d_clean, 10.0) * {cfg.w_clean!r}
         + least(d_structure, 10.0) * {cfg.w_structure!r}) / {total_w!r}, 2) AS score
  FROM dims
)
SELECT doc_id,
  round(d_lang, 4) AS d_lang, round(d_fluency, 4) AS d_fluency,
  round(d_clarity, 4) AS d_clarity, round(d_clean, 4) AS d_clean,
  round(d_structure, 4) AS d_structure, score,
  CAST(score >= {cfg.min_score!r} AND pred = lang
   AND nc >= {cfg.min_chars!r} AND nc <= {cfg.max_chars!r}
   AND (CASE WHEN pred IN ('zh','ja') THEN ncjk >= {cfg.min_cjk_chars!r}
             ELSE nw >= {cfg.min_words!r} END)
   AND dlf <= {cfg.max_dup_line_frac!r} AND symr <= {cfg.max_symbol_ratio!r}
   AND dwr >= {cfg.min_distinct_ratio!r} AS INT) AS keep
FROM scored
"""


# ------------------------------------------------------------------
# cot_envelope: StructuredPromptItem reshape (reference src/models.py:
# 222-257) flattened for scalar oracle comparison. The envelope itself is
# nested structs (operators/cot.py); flattening here because the driver
# hash compares scalar columns.

def q_cot_envelope(spark, sf_dir):
    from ..operators.cot import to_structured_prompt

    docs = _t(spark, sf_dir, "documents")
    shaped = to_structured_prompt(
        docs,
        instruction=F.concat(F.lit("Assess the quality of this "),
                             F.col("source"), F.lit(" document")),
        input_=F.col("text"),
        output=F.col("text"),
    )
    return shaped.select(
        "doc_id",
        "question",
        F.col("components.analyze").alias("c_analyze"),
        F.col("components.solution").alias("c_solution"),
        F.col("cot_metadata.original_format").alias("m_format"),
        F.col("cot_metadata.original_instruction").alias("m_instruction"),
    )


def _sql_cot_envelope() -> str:
    from ..operators.cot import ANALYZE_BODY

    analyze = ANALYZE_BODY.replace("\n", "' || chr(10) || '")
    return f"""
WITH base AS (
  SELECT doc_id, text,
         'Assess the quality of this ' || source || ' document' AS instr
  FROM documents
)
SELECT doc_id,
  CASE WHEN text IS NOT NULL AND text <> ''
       THEN instr || chr(10) || 'Context: ' || text ELSE instr END AS question,
  '{analyze}' AS c_analyze,
  text AS c_solution,
  'webtext' AS m_format,
  instr AS m_instruction
FROM base
"""


# ------------------------------------------------------------------
# cot_enhanced: EnhancedStructuredPromptItem (reference src/models.py:
# 258-339) — the envelope PLUS typed QuestionAnalysis/AnswerAnalysis
# structs, deterministic fill, flattened for the hash compare. The
# composed analyze/solve components pin the f-string-shaped assembly.

def q_cot_enhanced(spark, sf_dir):
    from ..operators.cot import to_enhanced_structured_prompt

    docs = _t(spark, sf_dir, "documents")
    shaped = to_enhanced_structured_prompt(
        docs,
        instruction=F.concat(F.lit("Assess the quality of this "),
                             F.col("source"), F.lit(" document")),
        input_=F.col("text"),
        output=F.col("text"),
    )
    qa, aa = F.col("question_analysis"), F.col("answer_analysis")
    return shaped.select(
        "doc_id",
        "question",
        qa["original_question"].alias("qa_original"),
        qa["question_quality"]["clarity"].alias("qa_clarity"),
        qa["question_quality"]["specificity"].alias("qa_specificity"),
        qa["question_quality"]["reasonableness"].alias("qa_reasonableness"),
        F.array_join(qa["improvement_suggestions"], "; ").alias("qa_suggestions"),
        aa["answer_quality"]["completeness"].alias("aa_completeness"),
        aa["answer_quality"]["accuracy"].alias("aa_accuracy"),
        aa["answer_quality"]["logic"].alias("aa_logic"),
        F.array_join(aa["improvement_suggestions"], "; ").alias("aa_suggestions"),
        aa["improved_answer"].alias("aa_improved"),
        F.col("components.analyze").alias("c_analyze"),
        F.col("components.solve").alias("c_solve"),
    )


def _sql_cot_enhanced() -> str:
    from ..functions.scrub import scrub_sql_expr

    scrub = scrub_sql_expr("t")
    nl = "chr(10)"
    return f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t,
         'Assess the quality of this ' || source || ' document' AS instr
  FROM documents
), qa AS (
  SELECT doc_id, t, instr,
    CASE WHEN t <> '' THEN instr || {nl} || 'Context: ' || t ELSE instr END AS q
  FROM base
), sig AS (
  SELECT *,
    CAST(len(regexp_extract_all(q, '{_NONWS_CLASS_SQL}+')) AS DOUBLE) AS qw,
    CAST(length(q) AS DOUBLE) AS qc,
    CAST(len(regexp_extract_all(t, '{_NONWS_CLASS_SQL}+')) AS DOUBLE) AS aw,
    CAST(length(t) AS DOUBLE) AS ac,
    CAST(length(regexp_replace(t, '[^\\n]', '', 'g')) AS DOUBLE) + 1.0::DOUBLE AS a_lines,
    {scrub} AS imp_a,
    regexp_replace(trim(q), '{_WS_CLASS_SQL}+', ' ', 'g') AS imp_q
  FROM qa
), sc AS (
  SELECT *,
    round(10.0::DOUBLE * least(qw / 20.0::DOUBLE, 1.0::DOUBLE), 3) AS clarity,
    round(10.0::DOUBLE * least(qc / 200.0::DOUBLE, 1.0::DOUBLE), 3) AS specificity,
    round(10.0::DOUBLE * least(ac / 400.0::DOUBLE, 1.0::DOUBLE), 3) AS completeness,
    round(10.0::DOUBLE * least(aw / 50.0::DOUBLE, 1.0::DOUBLE), 3) AS accuracy,
    round(10.0::DOUBLE * least(a_lines / 5.0::DOUBLE, 1.0::DOUBLE), 3) AS logic,
    coalesce(array_to_string(list_filter([
      CASE WHEN qw < 8.0::DOUBLE THEN 'add context to the question' END,
      CASE WHEN qc > 500.0::DOUBLE THEN 'tighten the question' END
    ], x -> x IS NOT NULL), '; '), '') AS q_sugg,
    coalesce(array_to_string(list_filter([
      CASE WHEN ac < 200.0::DOUBLE THEN 'expand the answer with supporting detail' END,
      CASE WHEN imp_a <> t THEN 'remove sensitive or flagged content' END
    ], x -> x IS NOT NULL), '; '), '') AS a_sugg
  FROM sig
), sc2 AS (
  SELECT *, round((clarity + specificity) / 2.0::DOUBLE, 3) AS reasonableness
  FROM sc
)
SELECT doc_id,
  imp_q AS question,
  q AS qa_original,
  clarity AS qa_clarity,
  specificity AS qa_specificity,
  reasonableness AS qa_reasonableness,
  q_sugg AS qa_suggestions,
  completeness AS aa_completeness,
  accuracy AS aa_accuracy,
  logic AS aa_logic,
  a_sugg AS aa_suggestions,
  imp_a AS aa_improved,
  'Question analysis:' || {nl} || '- Original question: ' || q
    || {nl} || '- Question quality: clarity: ' || printf('%.3f', clarity)
    || ', specificity: ' || printf('%.3f', specificity)
    || ', reasonableness: ' || printf('%.3f', reasonableness)
    || {nl} || '- Suggestions: ' || q_sugg
    || {nl} || '- Improved question: ' || imp_q
    || {nl} || {nl} || 'Answer analysis:'
    || {nl} || '- Answer quality: completeness: ' || printf('%.3f', completeness)
    || ', accuracy: ' || printf('%.3f', accuracy)
    || ', logic: ' || printf('%.3f', logic)
    || {nl} || '- Suggestions: ' || a_sugg AS c_analyze,
  'Based on the improved question and analysis, provide the solution:' || {nl}
    || imp_a AS c_solve
FROM sc2
"""


# ------------------------------------------------------------------
# gen_fanout: multi-generation explode (reference distillable/pipeline.py
# :33-37 num_generations=4) — N candidate rows per doc with deterministic
# per-candidate seeds.

def q_gen_fanout(spark, sf_dir):
    from ..operators.cot import fan_out_generations

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return fan_out_generations(docs, n_generations=4).select(
        "doc_id", "source", "gen_idx", "gen_seed"
    )


# pmod twin of operators/cot.py GEN_SEED_BOUND folding (DuckDB % is
# truncated like Spark's, so pmod = ((a % b) + b) % b; HUGEINT-free
# because the folded value × 4 + 3 fits int64).
SQL_GEN_FANOUT = f"""
SELECT doc_id, source, gen_idx,
       ((doc_id % {1 << 60}) + {1 << 60}) % {1 << 60} * 4 + gen_idx AS gen_seed
FROM documents
CROSS JOIN (SELECT unnest(range(4)) AS gen_idx) g
"""


# ------------------------------------------------------------------
# stream_windowed_agg: the Structured-Streaming path oracle-paired. A
# bounded file-source stream over `events` runs the event-time windowed
# aggregation (streaming/stream.py windowed_metrics_stream's shape) in
# COMPLETE output mode with availableNow — deterministic end-of-stream
# state, no watermark cutoff — so the streamed result must equal the
# plain batch GROUP BY bit-for-bit. maxFilesPerTrigger=1 forces one
# micro-batch per input file, so multi-batch incremental state merge is
# what's actually under test (a single-batch run would trivially match).
# The memory sink is the driver-collected correctness harness ONLY; the
# production sink is the parquet/append path (streaming/stream.py).

def q_stream_windowed_agg(spark, sf_dir):
    batch = _t(spark, sf_dir, "events")
    # The file stream source needs a DIRECTORY; stage the bounded input as
    # 4 files so maxFilesPerTrigger=1 yields 4 real micro-batches. The
    # staging is input plumbing, not the operator under test, so it is
    # idempotent (_stage_with_spec): a deterministic sf-keyed dir plus a
    # spec marker (atomic publish, guarded read), re-staged only when the
    # input changes (mkdtemp-per-run accumulated unbounded /tmp copies).
    stage = "/tmp/xdan_stream_events_" + sf_dir.strip("/").replace("/", "_")
    spec = {"sf_dir": sf_dir, "rows": batch.count(), "n_files": 4}
    marker = os.path.join(stage, "_SPEC.json")
    _stage_with_spec(
        marker, spec,
        lambda: batch.repartition(4).write.mode("overwrite")
        .parquet(f"{stage}/events"),
    )
    src = (
        spark.readStream.schema(batch.schema)  # streams cannot infer
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stage}/events")
    )
    agg = (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _dec_sum(F.col("value"), "total_value"),
        )
    )
    # Per-invocation sink name (memory sink): the monotonic counter keeps
    # two CONCURRENT same-session invocations from colliding on an
    # already-active streaming query name, while the immediate detach +
    # dropTempView below still frees every slot (the round-3 uuid scheme
    # avoided collisions but leaked one driver-resident aggregate per
    # invocation because nothing dropped the views).
    key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    name = f"stream_win_{key}_{next(_STREAM_QUERY_SEQ)}"
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.table(name).select(
        F.col("w.start").alias("window_start"),
        "event_type", "n_events", "total_value",
    )
    local = spark.createDataFrame(out.collect(), schema=out.schema)
    spark.catalog.dropTempView(name)
    return local


# Spark's window() aligns 1-hour buckets to the epoch; mirror with an
# explicit epoch floor. make_timestamp(µs) builds the naive TIMESTAMP
# straight from epoch microseconds — timezone-FREE, unlike
# CAST(to_timestamp(..) AS TIMESTAMP), which converts TIMESTAMPTZ via the
# DuckDB session TimeZone (system tz by default) and would shift every
# window_start by the UTC offset on a non-UTC host while the Spark side
# stays pinned to UTC.
SQL_STREAM_WINDOWED_AGG = """
SELECT make_timestamp(CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000) AS window_start,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


# ------------------------------------------------------------------
# sink_roundtrip: S4/S5 oracle-paired. Writes `documents` through the
# production sink (write_scored, hive-partitioned by source — the
# segment-dir layout) into a fresh run-scoped tmp dir, reads it back,
# and returns the rows: the identity oracle proves the sink/scan pair
# is byte-preserving, including partition-column reconstruction from
# directory names. The WRITE is the operator under test, so it runs
# every time — but into one deterministic sf-keyed dir (overwrite), not
# a fresh mkdtemp per run, so repeated oracle/bench runs hold /tmp
# usage constant. The dir must outlive the (lazy) returned plan, so no
# cleanup here.
#
# Read-back uses the WRITER's schema: without it, Spark infers partition-
# column types from directory names, so a numeric-looking partition value
# ('123') would come back as int and break the identity claim. Hive
# layout itself cannot represent an EMPTY/NULL partition value distinctly
# (both map to __HIVE_DEFAULT_PARTITION__ → NULL on read) — that is
# partitioned-storage semantics at any scale, not a sink bug; the claim
# here covers non-null, non-empty partition keys (the fixtures' shape).

def q_sink_roundtrip(spark, sf_dir):
    from ..sources.sinks import write_scored

    docs = _t(spark, sf_dir, "documents")
    out = "/tmp/xdan_sink_roundtrip_" + sf_dir.strip("/").replace("/", "_")
    write_scored(docs, f"{out}/seg", fmt="parquet", mode="overwrite",
                 partition_by=("source",))
    return spark.read.schema(docs.schema).parquet(f"{out}/seg").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


SQL_SINK_ROUNDTRIP = "SELECT doc_id, text, lang, source, n_chars FROM documents"


# ------------------------------------------------------------- round-5 batch 2
# A9 ROLLUP report: the (source × lang) ingest cube with subtotal and
# grand-total levels in ONE pass — Spark's rollup() emits all levels from
# a single shuffle with partial aggregation; computing each level as its
# own groupBy would re-scan the fact table three times. grouping_id()
# disambiguates rollup-NULLs from data-NULLs engine-portably (Spark's
# bit order matches SQL-standard GROUPING(source, lang)).

def q_a9_rollup_report(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            _dec_sum(F.col("n_chars"), "total_chars"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
            "gid", "n_docs", "total_chars",
        )
    )


SQL_A9_ROLLUP = """
SELECT CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
       CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
       CAST(GROUPING(source, lang) AS BIGINT) AS gid,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(20,6))) AS DOUBLE) AS total_chars
FROM documents GROUP BY ROLLUP(source, lang)
"""

# A10 equal-count quality tiles: ntile(4) PER LANGUAGE over (n_chars,
# doc_id) — the quality-tier bucketing step of a training-mix builder
# (keep top quartile, downsample the rest). The window partitions by
# lang, so the sort is per-stratum, never global; at extreme scale where
# one language dominates, derive tile BOUNDARIES from the
# a6_token_quantiles histogram instead and assign map-only (approximate
# equal-count); ntile is kept for its exact equal-count semantics on
# bounded strata. Output is the bounded (lang × 4) tier report.

def q_a10_quality_tiles(spark, sf_dir):
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    tiled = _t(spark, sf_dir, "documents").select(
        "lang", "n_chars", F.ntile(4).over(w).cast("long").alias("tile")
    )
    return tiled.groupBy("lang", "tile").agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


SQL_A10_TILES = """
SELECT lang, tile, COUNT(*) AS n_docs,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM (SELECT lang, n_chars,
             ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS tile
      FROM documents)
GROUP BY lang, tile
"""

# Edit-distance near-dup refine (operators/dedup.py levenshtein_pairs):
# LSH candidates verified by levenshtein on a fixed 200-char prefix —
# the character-level complement to set-based Jaccard for boilerplate
# with injected dates/ids. Both engines compute classic unit-cost edit
# distance, so the VALUES are oracle-checked, not just the keep set.

def q_dedup_lev_pairs(spark, sf_dir):
    from ..operators.dedup import levenshtein_pairs

    return levenshtein_pairs(_t(spark, sf_dir, "documents")).select(
        "a", "b", F.col("lev").cast("long").alias("lev")
    )


SQL_DEDUP_LEV = f"""
WITH sigs AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
pre AS (SELECT doc_id, substr(coalesce(text, ''), 1, 200) AS p FROM documents)
SELECT c.a, c.b, CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS lev
FROM cand c JOIN pre pa ON pa.doc_id = c.a JOIN pre pb ON pb.doc_id = c.b
WHERE CAST(levenshtein(pa.p, pb.p) AS DOUBLE)
      <= 0.4 * CAST(greatest(length(pa.p), length(pb.p)) AS DOUBLE)
"""

# A11 per-language feature correlation (operators/metrics.py
# feature_correlation): Pearson r of chars vs whitespace tokens from
# EXACT decimal moment sums — order-independent (F.corr is not), so the
# value is oracle-checked bit-for-bit.

def q_a11_feature_corr(spark, sf_dir):
    from ..functions.tokenize import WS_PLUS
    from ..operators.metrics import feature_correlation

    n_tokens = F.size(
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS, -1),
            lambda w: w != F.lit(""),
        )
    )
    d = _t(spark, sf_dir, "documents").select(
        "lang", "n_chars", n_tokens.alias("n_tokens")
    )
    return feature_correlation(d, "n_chars", "n_tokens", by="lang")


SQL_A11_CORR = f"""
WITH d AS (SELECT lang, n_chars, len({_WORDS_WS_SQL}) AS nt FROM documents),
m AS (
  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(n_chars AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(nt AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(n_chars AS HUGEINT) * nt) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(nt AS HUGEINT) * nt) AS DOUBLE) AS syy
  FROM d GROUP BY lang
)
SELECT lang, CAST(n AS BIGINT) AS n,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN (n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
            ELSE 0.0 END AS pearson_r
FROM m
"""


# ------------------------------------------------------------- round-5 batch 3
# Boilerplate shingle prevalence (operators/textstats.py
# shingle_prevalence): fraction of each doc's distinct 3-gram shingles
# appearing in ≥2 documents — the inter-document repetition signal.
# shared_frac is one double division of two exact longs, so the VALUES
# are oracle-checked.

def q_boilerplate_shingles(spark, sf_dir):
    from ..operators.textstats import shingle_prevalence

    return shingle_prevalence(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_shingles", "n_shared",
        F.round(F.col("shared_frac"), 9).alias("shared_frac"),
    )


SQL_BOILERPLATE = f"""
WITH sigs AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
ex AS (
  SELECT doc_id,
         unnest(list_distinct([CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
                               FOR x IN sh])) AS k
  FROM sigs
),
cnt AS (SELECT doc_id, k, COUNT(*) OVER (PARTITION BY k) AS docs FROM ex)
SELECT doc_id, COUNT(*) AS n_shingles,
       SUM(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS n_shared,
       round(CAST(SUM(CASE WHEN docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) AS shared_frac
FROM cnt GROUP BY doc_id
"""

# A13 trimmed mean (robust per-language length statistic): drop the
# bottom and top 5% BY RANK (deterministic (n_chars, doc_id) order —
# value-threshold trims are ambiguous on ties), then an exact DECIMAL
# mean over the kept band. One window shuffle on the stratum key + one
# hash aggregate; at extreme stratum sizes, derive the trim boundaries
# from the a6-style value-compressed histogram instead (bounded state)
# and trim map-only.

def q_a13_trimmed_mean(spark, sf_dir):
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wc = Window.partitionBy("lang")
    d = (
        _t(spark, sf_dir, "documents")
        .select("lang", "n_chars", "doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(wc))
    )
    cut = F.floor(F.col("_n") * F.lit(0.05)).cast("long")
    kept = d.filter((F.col("_rn") > cut) & (F.col("_rn") <= F.col("_n") - cut))
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        (F.sum(F.col("n_chars").cast("decimal(38,0)")).cast("double")
         / F.count("*").cast("double")).alias("trimmed_mean_chars"),
    )


SQL_A13_TRIMMED = """
WITH r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, COUNT(*) AS n_kept,
       CAST(SUM(CAST(n_chars AS HUGEINT)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS trimmed_mean_chars
FROM r
WHERE rn > CAST(floor(n * 0.05) AS BIGINT) AND rn <= n - CAST(floor(n * 0.05) AS BIGINT)
GROUP BY lang
"""

# A14 share-of-total mix report: each source's share of corpus chars,
# ranked. The unpartitioned window runs over the ALREADY-AGGREGATED
# bounded source table (≤ #sources rows), never the fact table — the
# grand total rides the same window pass as exact DECIMAL, so the share
# division is one correctly-rounded double op per row.

def q_a14_source_share(spark, sf_dir):
    agg = (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.col("n_chars").cast("decimal(38,0)")).alias("_chars"),
             F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy()
    share = (F.col("_chars").cast("double")
             / F.sum("_chars").over(w).cast("double"))
    rnk = F.rank().over(
        Window.partitionBy().orderBy(F.col("_chars").desc(), F.col("source"))
    )
    return agg.select(
        "source", "n_docs",
        F.col("_chars").cast("double").alias("total_chars"),
        F.round(share, 9).alias("share"),
        rnk.cast("long").alias("rank"),
    )


SQL_A14_SHARE = """
WITH a AS (
  SELECT source, COUNT(*) AS n_docs, SUM(CAST(n_chars AS HUGEINT)) AS chars
  FROM documents GROUP BY source
)
SELECT source, n_docs, CAST(chars AS DOUBLE) AS total_chars,
       round(CAST(chars AS DOUBLE) / CAST(SUM(chars) OVER () AS DOUBLE), 9) AS share,
       CAST(RANK() OVER (ORDER BY chars DESC, source) AS BIGINT) AS rank
FROM a
"""




# ------------------------------------------------------------- round-5 batch 4
# Lexical diversity (operators/textstats.py lexical_diversity): type-token
# and hapax-legomena ratios — the Gopher-style repetition/diversity signal.

def q_lexical_diversity(spark, sf_dir):
    from ..operators.textstats import lexical_diversity

    return lexical_diversity(_t(spark, sf_dir, "documents"))


SQL_LEXICAL_DIVERSITY = f"""
WITH ex AS (SELECT doc_id, unnest({_WORDS_WS_SQL}) AS w FROM documents),
tc AS (SELECT doc_id, w, COUNT(*) AS c FROM ex GROUP BY doc_id, w)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 9) AS ttr,
       round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) AS hapax_ratio
FROM tc GROUP BY doc_id
"""

# Top-3 characteristic terms per doc by tf-idf (operators/textstats.py
# tfidf_top_terms). Selection is integral (tf DESC, df ASC, term ASC);
# the tf-idf weight is a reported rounded column.

def q_tfidf_top_terms(spark, sf_dir):
    from ..operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


SQL_TFIDF = f"""
WITH ex AS (SELECT doc_id, unnest({_WORDS_WS_SQL}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY doc_id, term),
d AS (SELECT *, COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM tf)
SELECT doc_id, term, tf, df,
       round(CAST(tf AS DOUBLE) * ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE)), 6)
         AS tfidf
FROM d, n
QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY tf DESC, df ASC, term ASC) <= 3
"""

# Top-20 bigram collocations with PMI (operators/textstats.py pmi_bigrams).

def q_pmi_bigrams(spark, sf_dir):
    from ..operators.textstats import pmi_bigrams

    return pmi_bigrams(_t(spark, sf_dir, "documents"), min_count=5, k=20)


SQL_PMI = f"""
WITH w AS (SELECT {_WORDS_WS_SQL} AS ws FROM documents),
bi AS (
  SELECT x, y, COUNT(*) AS c_xy FROM (
    SELECT unnest([{{'x': ws[i], 'y': ws[i+1]}} FOR i IN range(1, len(ws))],
                  recursive := true)
    FROM w
  ) GROUP BY x, y
),
uni AS (
  SELECT w AS word, COUNT(*) AS c_w
  FROM (SELECT unnest(ws) AS w FROM w) GROUP BY w
),
tu AS (SELECT CAST(SUM(c_w) AS DOUBLE) AS t_uni FROM uni),
tb AS (SELECT CAST(SUM(c_xy) AS DOUBLE) AS t_bi FROM bi),
top AS (
  SELECT * FROM bi WHERE c_xy >= 5
  QUALIFY ROW_NUMBER() OVER (ORDER BY c_xy DESC, x ASC, y ASC) <= 20
)
SELECT x, y, c_xy, ux.c_w AS c_x, uy.c_w AS c_y,
       round(ln((CAST(c_xy AS DOUBLE) / t_bi)
                / ((CAST(ux.c_w AS DOUBLE) / t_uni)
                   * (CAST(uy.c_w AS DOUBLE) / t_uni))), 6) AS pmi
FROM top JOIN uni ux ON top.x = ux.word
         JOIN uni uy ON top.y = uy.word, tu, tb
"""

# A15 per-language length outliers: |z| > 2 docs by exact-moment z-score.
# The per-language moment table (≤ #langs rows, exact DECIMAL sums) is
# broadcast back onto the fact table — the scan never shuffles; every
# per-row op afterwards is an IEEE-determined (+,-,*,/,sqrt) sequence,
# identical in both engines, so even the FILTER BOUNDARY is portable.

def q_a15_zscore_outliers(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    x = F.col("n_chars").cast("decimal(19,0)")
    stats = docs.groupBy("lang").agg(
        F.count("*").alias("_n"),
        F.sum(x).cast("double").alias("_sx"),
        F.sum((x * x).cast("decimal(38,0)")).cast("double").alias("_sx2"),
    )
    mean = F.col("_sx") / F.col("_n").cast("double")
    var = (F.col("_sx2") - F.col("_sx") * F.col("_sx") / F.col("_n").cast("double")) \
        / (F.col("_n") - 1).cast("double")
    z = (F.col("n_chars").cast("double") - mean) / F.sqrt(var)
    return (
        docs.join(F.broadcast(stats), "lang")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 2.0)
        .select("doc_id", "lang", "n_chars", F.round("z", 9).alias("z"))
    )


SQL_A15_ZSCORE = """
WITH s AS (
  SELECT lang, COUNT(*) AS n,
         CAST(SUM(CAST(n_chars AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS DOUBLE)
           AS sx2
  FROM documents GROUP BY lang
),
zz AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         (CAST(d.n_chars AS DOUBLE) - sx / CAST(n AS DOUBLE))
           / sqrt((sx2 - sx * sx / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS z
  FROM documents d JOIN s ON d.lang = s.lang
)
SELECT doc_id, lang, n_chars, round(z, 9) AS z FROM zz WHERE abs(z) > 2.0
"""




# ------------------------------------------------------------- round-5 batch 5
# Near-dup cluster-size census: how much of the corpus sits in clusters
# of 1, 2, 3... — the corpus-health headline behind any dedup rollout
# decision ("12% of docs live in 2+-member near-dup clusters"). Composes
# the existing verified-pair + connected-components machinery; singleton
# docs fall out of the left join, never a driver-side subtraction.
# Parity note: computed over the FULL corpus (no exact-collapse) to match
# the recursive-CTE twin node-for-node; the production variant composes
# exact_dedup first and adds each identical-group's size to its rep's
# cluster — value-identical, minus the quadratic hot bucket.

def q_cc_cluster_histogram(spark, sf_dir):
    from ..operators.dedup import (
        connected_components,
        jaccard_verify,
        minhash_candidate_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_verify(docs, minhash_candidate_pairs(docs),
                           threshold=0.7)
    labels = connected_components(pairs.select("a", "b"))
    comp = (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(F.coalesce("comp", "doc_id").alias("comp"))
    )
    sizes = comp.groupBy("comp").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"),
             F.sum("cluster_size").cast("long").alias("n_docs"))
    )




# Gopher/C4 heuristic signals over REAL text, directly oracle-paired —
# the per-doc quality features themselves, not just the downstream ramp
# tree that score_core pins on synthetic fixtures. Portable subset only:
# stopword_ratio is excluded because its Spark form needs Java's
# (?U)-unicode word boundary, which RE2 (DuckDB) cannot express — it
# stays covered by goldens + unit tests and by score_core's ramp oracle.
# translate() (identical delete semantics in both engines) carries the
# whitespace/symbol strips; \p{{L}} is RE2-portable for alpha_ratio.

def q_gopher_stats(spark, sf_dir):
    from ..functions.heuristics import heuristic_columns

    docs = _t(spark, sf_dir, "documents")
    h = heuristic_columns("text")
    return docs.select(
        "doc_id",
        h["n_words"].cast("long").alias("n_words"),
        F.round(h["mean_word_len"], 9).alias("mean_word_len"),
        F.round(h["symbol_ratio"], 9).alias("symbol_ratio"),
        F.round(h["dup_line_frac"], 9).alias("dup_line_frac"),
        F.round(h["alpha_ratio"], 9).alias("alpha_ratio"),
        F.round(h["cjk_ratio"], 9).alias("cjk_ratio"),
        F.round(h["distinct_word_ratio"], 9).alias("distinct_word_ratio"),
    )


# The 6 Java-\s chars for translate() as SQL chr() concat (no escape
# ambiguity across dialects); the symbol class has no quote chars.
_WS_TRANSLATE_SQL = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
_SYM_TRANSLATE_SQL = "'@#$%^&*{}<>|\\~`=+'"

SQL_GOPHER_STATS = f"""
WITH base AS (
  SELECT doc_id, coalesce(text, '') AS t, {_WORDS_WS_SQL} AS ws FROM documents
),
ln AS (
  SELECT doc_id, t, ws,
         list_filter(regexp_split_to_array(t, '{_WS_CLASS_SQL}*\n{_WS_CLASS_SQL}*'),
                     x -> x <> '') AS lines
  FROM base
)
SELECT doc_id,
       len(ws) AS n_words,
       round(CASE WHEN len(ws) = 0 THEN 0.0
                  ELSE CAST(length(translate(t, {_WS_TRANSLATE_SQL}, ''))
                            AS DOUBLE) / len(ws) END, 9) AS mean_word_len,
       round(CASE WHEN len(ws) = 0 THEN 0.0
                  ELSE CAST(length(t) - length(translate(t, {_SYM_TRANSLATE_SQL}, ''))
                            AS DOUBLE) / len(ws) END, 9) AS symbol_ratio,
       round(CASE WHEN len(lines) <= 1 THEN 0.0
                  ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                       / len(lines) END, 9) AS dup_line_frac,
       round(CASE WHEN len(ws) = 0 THEN 0.0
                  ELSE CAST(len(regexp_extract_all(t,
                         '[^\\p{{L}} \t\n\x0B\f\r]*\\p{{L}}[^ \t\n\x0B\f\r]*'))
                            AS DOUBLE) / len(ws) END, 9) AS alpha_ratio,
       round(CASE WHEN length(t) = 0 THEN 0.0
                  ELSE CAST(len(regexp_extract_all(t, '[一-鿿぀-ヿ]'))
                            AS DOUBLE) / length(t) END, 9) AS cjk_ratio,
       round(CASE WHEN len(ws) = 0 THEN 1.0
                  ELSE CAST(len(list_distinct([lower(x) FOR x IN ws])) AS DOUBLE)
                       / len(ws) END, 9) AS distinct_word_ratio
FROM ln
"""




# ------------------------------------------------------------- round-5 batch 6
# A18 robust center/spread: per-language median + MAD of doc length
# (operators/textstats.py median_abs_deviation — two exact-histogram
# type-7 quantile passes, bounded state; DuckDB's mad() implements the
# identical interpolated definition).

def q_a18_median_mad(spark, sf_dir):
    from ..operators.textstats import median_abs_deviation

    return median_abs_deviation(
        _t(spark, sf_dir, "documents"), value_col="n_chars", by="lang"
    ).select(
        "lang",
        F.round("median_val", 6).alias("median_chars"),
        F.round("mad_val", 6).alias("mad_chars"),
    )


SQL_A18_MAD = """
SELECT lang,
       round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS median_chars,
       round(mad(CAST(n_chars AS DOUBLE)), 6) AS mad_chars
FROM documents GROUP BY lang
"""

# A20 doc-length magnitude histogram: per (lang, power-of-two bucket)
# counts. The bucket index is length(bin(n_chars)) = floor(log2)+1 —
# INTEGRAL in both engines, where floor(log2(x)) itself can straddle a
# ULP at exact powers of two and disagree cross-engine.

def q_a20_length_log2_hist(spark, sf_dir):
    bucket = F.length(F.bin(F.col("n_chars"))).cast("long")
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", bucket.alias("log2_bucket"))
        .agg(F.count("*").alias("n_docs"),
             F.min("n_chars").alias("min_chars"),
             F.max("n_chars").alias("max_chars"))
    )


SQL_A20_LOG2 = """
SELECT lang, CAST(length(bin(n_chars)) AS BIGINT) AS log2_bucket,
       COUNT(*) AS n_docs, MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY lang, length(bin(n_chars))
"""


# ------------------------------------------------------------- round-5 batch 7
# Training-data curation specials (operators/curation.py): benchmark
# decontamination, OOV profiling, mixture rebalancing, context-window
# chunking, sequence packing, char-diversity gibberish signal, and
# quality-weighted deterministic sampling. The benchmark set is carved
# deterministically from the corpus (doc_id % 97 == 0) so the query is
# self-contained on the fixture tables.

_SHKEYS_SQL = (
    "list_distinct([CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) "
    f"FOR x IN {_SHINGLES_SQL}])"
)


def q_decon_benchmark_overlap(spark, sf_dir):
    from ..operators.curation import benchmark_overlap

    d = _t(spark, sf_dir, "documents")
    return benchmark_overlap(
        d.filter(F.col("doc_id") % 97 != 0),
        d.filter(F.col("doc_id") % 97 == 0),
        n=3,
    )


SQL_DECON = f"""
WITH bk AS (
  SELECT DISTINCT unnest({_SHKEYS_SQL}) AS k
  FROM documents WHERE doc_id % 97 = 0
),
ex AS (
  SELECT doc_id, unnest({_SHKEYS_SQL}) AS k
  FROM documents WHERE doc_id % 97 <> 0
)
SELECT ex.doc_id, COUNT(*) AS n_shingles,
       SUM(CASE WHEN bk.k IS NULL THEN 0 ELSE 1 END) AS n_hits,
       round(CAST(SUM(CASE WHEN bk.k IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) AS hit_frac
FROM ex LEFT JOIN bk ON ex.k = bk.k
GROUP BY ex.doc_id
HAVING SUM(CASE WHEN bk.k IS NULL THEN 0 ELSE 1 END) > 0
"""


def q_oov_rate(spark, sf_dir):
    from ..operators.curation import oov_rate

    return oov_rate(_t(spark, sf_dir, "documents"), vocab_size=200)


SQL_OOV = f"""
WITH ex AS (SELECT lang, unnest({_WORDS_WS_SQL}) AS term FROM documents),
v AS (
  SELECT term FROM (
    SELECT term, COUNT(*) AS cnt FROM ex GROUP BY term
    ORDER BY cnt DESC, term ASC LIMIT 200
  )
)
SELECT lang, COUNT(*) AS n_tokens,
       SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov,
       round(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) AS oov_rate
FROM ex LEFT JOIN v ON ex.term = v.term
GROUP BY lang
"""


def q_mixture_plan(spark, sf_dir):
    from ..operators.curation import mixture_plan

    return mixture_plan(_t(spark, sf_dir, "documents"))


SQL_MIXTURE = f"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs, SUM(len({_WORDS_WS_SQL})) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_tokens) AS t, COUNT(*) AS s FROM per)
SELECT source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE), 9) AS current_share,
       round(1.0 / CAST(s AS DOUBLE), 9) AS target_share,
       round(CAST(t AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(n_tokens AS DOUBLE)),
             9) AS epochs,
       round(least(1.0, CAST(t AS DOUBLE)
                        / (CAST(s AS DOUBLE) * CAST(n_tokens AS DOUBLE))),
             9) AS sampling_rate
FROM per, tot
"""


def q_chunk_plan(spark, sf_dir):
    from ..operators.curation import chunk_plan

    return chunk_plan(_t(spark, sf_dir, "documents"), chunk_tokens=64)


# chunk_tokens = least(64, n_tok − 64·chunk_id) is derived in the outer
# select on both sides so the unnest stays simple.
SQL_CHUNK = f"""
WITH d AS (SELECT doc_id, len({_WORDS_WS_SQL}) AS n_tok FROM documents),
c AS (
  SELECT doc_id, n_tok, CAST((n_tok + 63) // 64 AS BIGINT) AS n_chunks
  FROM d WHERE n_tok > 0
),
e AS (
  SELECT doc_id, n_tok, n_chunks,
         CAST(unnest(range(0, n_chunks)) AS BIGINT) AS chunk_id
  FROM c
)
SELECT doc_id, chunk_id,
       CAST(least(64, n_tok - chunk_id * 64) AS BIGINT) AS chunk_tokens,
       n_chunks
FROM e
"""


def q_pack_bins(spark, sf_dir):
    from ..operators.curation import pack_bins

    return pack_bins(_t(spark, sf_dir, "documents"), capacity_tokens=2048)


SQL_PACK = f"""
WITH d AS (
  SELECT source, doc_id, len({_WORDS_WS_SQL}) AS n_tok FROM documents
),
c AS (
  SELECT source, doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
)
SELECT source, CAST(cum_before // 2048 AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs, SUM(n_tok) AS bin_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM c GROUP BY source, cum_before // 2048
"""


def q_char_diversity(spark, sf_dir):
    from ..operators.curation import char_diversity

    return char_diversity(_t(spark, sf_dir, "documents"))


SQL_CHAR_DIVERSITY = """
WITH ex AS (
  SELECT lang, doc_id,
         unnest([substr(text, i, 1) FOR i IN range(1, length(text) + 1)]) AS ch
  FROM documents WHERE text IS NOT NULL
),
cnt AS (SELECT lang, doc_id, ch, COUNT(*) AS c FROM ex GROUP BY 1, 2, 3),
pd AS (
  SELECT lang, doc_id, SUM(c) AS n, COUNT(*) AS n_distinct,
         SUM(c * c) AS sum_c2
  FROM cnt GROUP BY 1, 2
)
SELECT lang, COUNT(*) AS n_docs, SUM(n_distinct) AS sum_distinct_chars,
       round(CAST(SUM(CAST(round(CAST(sum_c2 AS DOUBLE)
                                 / CAST(n * n AS DOUBLE), 9)
                           AS DECIMAL(20,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) AS mean_simpson
FROM pd GROUP BY lang
"""

# Quality-weighted deterministic sampling: keep probability proportional
# to n_chars (capped at 1 above 3000 chars), decided by the same md5
# bucket discipline as s3_stratified_sample — PURE integer comparison
# (bucket·3000 < n_chars·10⁶), map-only, no shuffle, reproducible across
# engines/partitionings. The sampling stage a mixture_plan's per-source
# rates feed at 10¹² docs.


def q_s3_weighted_sample(spark, sf_dir):
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(1000000),
    )
    return (
        _t(spark, sf_dir, "documents")
        .filter(bucket * F.lit(3000) < F.col("n_chars") * F.lit(1000000))
        .select("doc_id", "lang", "source", "n_chars")
    )


SQL_S3_WEIGHTED = """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
       % 1000000) * 3000 < n_chars * 1000000
"""


# ------------------------------------------------------------- round-5 batch 8
# Within-doc repetition, join-based stopword coverage (the one Gopher
# signal the regex form could not oracle-pair), token entropy,
# quantile-band length filtering, and canonical-form dedup.


def q_ngram_repetition(spark, sf_dir):
    from ..operators.textstats import ngram_repetition

    return ngram_repetition(_t(spark, sf_dir, "documents"), n=3)


SQL_NGRAM_REPETITION = f"""
WITH d AS (
  SELECT lang, len({_SHINGLES_SQL}) AS t,
         len(list_distinct({_SHINGLES_SQL})) AS dd
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs, SUM(t) AS n_ngrams,
       SUM(t - dd) AS n_dup_ngrams,
       round(CAST(SUM(t - dd) AS DOUBLE) / CAST(SUM(t) AS DOUBLE), 9)
         AS dup_frac
FROM d GROUP BY lang
"""


def q_token_entropy(spark, sf_dir):
    from ..operators.textstats import token_entropy

    return token_entropy(_t(spark, sf_dir, "documents"))


SQL_TOKEN_ENTROPY = f"""
WITH ex AS (
  SELECT lang, doc_id, unnest({_WORDS_WS_SQL}) AS term FROM documents
),
tc AS (SELECT lang, doc_id, term, COUNT(*) AS c FROM ex GROUP BY 1, 2, 3),
pd AS (
  SELECT lang, doc_id, SUM(c) AS n,
         SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 9)
                  AS DECIMAL(28,9))) AS s
  FROM tc GROUP BY 1, 2
),
e AS (
  SELECT lang,
         round(ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE),
               6) AS entropy
  FROM pd
)
SELECT lang, COUNT(*) AS n_docs,
       round(CAST(SUM(CAST(entropy AS DECIMAL(20,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_entropy
FROM e GROUP BY lang
"""


def q_stopword_coverage(spark, sf_dir):
    from ..operators.curation import stopword_coverage

    return stopword_coverage(_t(spark, sf_dir, "documents"))


def _stopword_list_sql() -> str:
    from ..functions.heuristics import STOPWORDS

    return ", ".join("'" + w.replace("'", "''") + "'" for w in STOPWORDS)


SQL_STOPWORD_COVERAGE = f"""
WITH ex AS (
  SELECT lang,
         unnest(list_filter(regexp_split_to_array(
             lower(coalesce(text, '')), '{_WS_CLASS_SQL}+'), w -> w <> ''))
           AS term
  FROM documents
)
SELECT lang, COUNT(*) AS n_tokens,
       SUM(CASE WHEN term IN ({{stoplist}}) THEN 1 ELSE 0 END) AS n_stop,
       round(CAST(SUM(CASE WHEN term IN ({{stoplist}}) THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) AS stop_rate
FROM ex GROUP BY lang
"""


def q_dedup_canonical(spark, sf_dir):
    from ..operators.dedup import canonical_dedup

    return canonical_dedup(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "source", "n_chars"
    )


SQL_DEDUP_CANONICAL = f"""
WITH k AS (
  SELECT *, md5(trim(regexp_replace(lower(coalesce(text, '')),
                                    '{_WS_CLASS_SQL}+', ' ', 'g'))) AS _k
  FROM documents
),
r AS (SELECT _k, min(doc_id) AS doc_id FROM k GROUP BY _k)
SELECT k.doc_id, k.lang, k.source, k.n_chars FROM k JOIN r USING (_k, doc_id)
"""


def q_a21_length_band(spark, sf_dir):
    # Per-language [p05, p95] doc-length keep band (outlier trim before
    # mixing): the ≤#langs quantile table comes from the bounded-state
    # exact histogram (see a6), is BROADCAST back, and the document scan
    # never shuffles — the filter itself is map-only. Both engines
    # compare against the 6-dp-rounded type-7 quantile so the band
    # boundary is bit-identical.
    from ..operators.textstats import exact_quantiles_histogram

    d = _t(spark, sf_dir, "documents")
    gv = d.select(F.col("lang").alias("g"), F.col("n_chars").cast("double").alias("v"))
    q = exact_quantiles_histogram(gv, (0.05, 0.95)).select(
        F.col("g").alias("lang"), F.col("p5").alias("lo"), F.col("p95").alias("hi")
    )
    return (
        d.join(F.broadcast(q), "lang")
        .filter(
            (F.col("n_chars").cast("double") >= F.col("lo"))
            & (F.col("n_chars").cast("double") <= F.col("hi"))
        )
        .select("doc_id", "lang", "n_chars")
    )


SQL_A21_BAND = """
WITH q AS (
  SELECT lang,
         round(quantile_cont(CAST(n_chars AS DOUBLE), 0.05), 6) AS lo,
         round(quantile_cont(CAST(n_chars AS DOUBLE), 0.95), 6) AS hi
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, d.n_chars FROM documents d JOIN q USING (lang)
WHERE CAST(d.n_chars AS DOUBLE) >= lo AND CAST(d.n_chars AS DOUBLE) <= hi
"""


# ------------------------------------------------------------- round-5 batch 9
# Pipeline-health reports composed from the already-verified signal
# machinery: language-confusion matrix (declared vs heuristic label),
# per-source PII prevalence by rule, score-calibration deciles over the
# full score_core tree.


def q_lang_confusion(spark, sf_dir):
    # Declared `lang` vs the heuristic predictor — the mislabel-rate
    # matrix a corpus audit reads before trusting upstream metadata.
    # One map-only predict pass + a fold to the bounded L×L matrix.
    from ..operators.textstats import langid_heuristic_expr

    return (
        _t(spark, sf_dir, "documents")
        .select("lang", langid_heuristic_expr("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


def _lang_confusion_sql() -> str:
    # SQL_LANG_ID carries exactly one row key (doc_id); re-keying the
    # identical predictor CTE chain on `lang` yields the matrix twin.
    inner = SQL_LANG_ID.replace("doc_id", "lang")
    return (
        f"SELECT lang, lang_pred, COUNT(*) AS n_docs FROM ({inner}) "
        "GROUP BY lang, lang_pred"
    )


def q_pii_prevalence(spark, sf_dir):
    # Per-source PII/profanity prevalence by rule — the privacy-health
    # report behind P7's scrub. Counts are progressive (each rule counts
    # on text already scrubbed by earlier rules, mirroring scrub_columns)
    # so overlapping classes are never double-counted. All four regex
    # passes are one whole-stage-codegen map stage; the only shuffle is
    # the ≤#sources fold.
    from ..functions.scrub import SCRUB_RULES

    d = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    per_rule = {}
    total = F.lit(0)
    for name, pat, repl in SCRUB_RULES:
        c = F.regexp_count(t, F.lit(pat))
        per_rule[name] = c
        total = total + c
        t = F.regexp_replace(t, pat, repl)
    sel = d.select(
        "source",
        *[c.alias(f"_{n}") for n, c in per_rule.items()],
        total.alias("_tot"),
    )
    return sel.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        *[F.sum(f"_{n}").cast("long").alias(f"n_{n}") for n in per_rule],
        F.sum((F.col("_tot") > 0).cast("int")).cast("long").alias("n_docs_with_pii"),
    )


def _pii_prevalence_sql() -> str:
    from ..functions.scrub import SCRUB_RULES

    t = "coalesce(text, '')"
    parts = []
    for name, pat, repl in SCRUB_RULES:
        p = pat.replace("'", "''")
        parts.append((name, f"len(regexp_extract_all({t}, '{p}'))"))
        t = f"regexp_replace({t}, '{p}', '{repl}', 'g')"
    inner = ", ".join(f"{e} AS _{n}" for n, e in parts)
    tot = " + ".join(f"_{n}" for n, _ in parts)
    sums = ", ".join(f"CAST(SUM(_{n}) AS BIGINT) AS n_{n}" for n, _ in parts)
    return (
        f"WITH c AS (SELECT source, {inner} FROM documents) "
        f"SELECT source, COUNT(*) AS n_docs, {sums}, "
        f"CAST(SUM(CASE WHEN {tot} > 0 THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_docs_with_pii FROM c GROUP BY source"
    )


def q_calibration_curve(spark, sf_dir):
    # Score-calibration deciles over the FULL score_core expression tree:
    # per decile of the weighted score, how many docs and what fraction
    # the keep rule actually keeps — the threshold-tuning curve a
    # quality-filter rollout reads. floor(score·10) is the same IEEE op
    # sequence in both engines, so even bucket boundaries are portable.
    sc = q_score_core(spark, sf_dir)
    return (
        sc.groupBy(
            F.floor(F.col("score") * 10).cast("int").alias("score_decile")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_keep"),
        )
        .withColumn(
            "keep_rate",
            F.round(F.col("n_keep").cast("double") / F.col("n_docs").cast("double"), 9),
        )
    )


def _calibration_curve_sql() -> str:
    return (
        f"WITH sc AS ({_sql_score_core()}) "
        "SELECT CAST(floor(score * 10) AS INT) AS score_decile, "
        "COUNT(*) AS n_docs, CAST(SUM(keep) AS BIGINT) AS n_keep, "
        "round(CAST(SUM(keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9) "
        "AS keep_rate FROM sc GROUP BY 1"
    )


# ------------------------------------------------------------ round-5 batch 10
# The cross-source near-dup contamination matrix composed from the
# verified LSH pair machinery.


def q_dup_cross_source(spark, sf_dir):
    # Cross-source contamination matrix: verified near-dup pairs
    # (MinHash-LSH candidates → exact Jaccard ≥ 0.5, the oracle-green
    # dedup_ngram_jaccard machinery) rolled up to (source, source) —
    # "how much of dataset A is near-copied in dataset B", the report
    # that decides which source to drop before mixing. Pair sides fetch
    # their source by doc_id-keyed joins (linear in verified pairs);
    # (least, greatest) folds the symmetric matrix deterministically.
    from ..operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.5).select("a", "b")
    sa = d.select(F.col("doc_id").alias("a"), F.col("source").alias("_sa"))
    sb = d.select(F.col("doc_id").alias("b"), F.col("source").alias("_sb"))
    return (
        pairs.join(sa, "a").join(sb, "b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
    )


def _dup_cross_source_sql() -> str:
    return f"""
WITH pairs AS ({SQL_DEDUP_NGRAM_JACCARD})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       COUNT(*) AS n_pairs
FROM pairs p
JOIN documents da ON da.doc_id = p.a
JOIN documents db ON db.doc_id = p.b
GROUP BY 1, 2
"""


# ------------------------------------------------------------ round-5 batch 11
# Integer-exact per-language deciles and span-level dedup reports.


def q_a26_lang_deciles(spark, sf_dir):
    # Per-language length-decile census: row_number over (n_chars,
    # doc_id) — a unique key, so the rank is total — then the decile is
    # INTEGER arithmetic ((rn-1)*10 div max(n-1,1), clamped to 9), never
    # a float percent_rank, so both engines agree bit-for-bit with no
    # rounding epsilon. One shuffle on lang for the window; the decile
    # rollup is map-side combined.
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "lang",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"),
    )
    decile = F.least(
        F.expr("(rn - 1) * 10 div greatest(n - 1, 1)"), F.lit(9).cast("long")
    )
    return (
        ranked.select("lang", decile.alias("decile"))
        .groupBy("lang", "decile")
        .agg(F.count("*").alias("n_docs"))
    )


SQL_A26_LANG_DECILES = """
WITH ranked AS (
  SELECT lang,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents)
SELECT lang, least((rn - 1) * 10 // greatest(n - 1, 1), 9) AS decile,
       COUNT(*) AS n_docs
FROM ranked GROUP BY 1, 2
"""


def q_dedup_spans(spark, sf_dir):
    # Corpus-wide exact duplicate-span scrub (Lee et al. 2022 granularity)
    # — see operators/dedup.py:span_dedup for the skew-safe min-struct
    # first-occurrence shape. The twin re-expresses the same first-
    # occurrence rule as a row_number window (values identical: (doc_id,
    # pos) is unique, so rank-1 ⇔ equality with the min struct).
    from ..operators.dedup import span_dedup

    return span_dedup(_t(spark, sf_dir, "documents"), span_tokens=10)


SQL_DEDUP_SPANS = f"""
WITH words AS (
  SELECT doc_id, {_WORDS_WS_SQL} AS ws FROM documents),
idx AS (
  SELECT doc_id, ws, unnest(range((len(ws) + 9) // 10)) AS pos FROM words),
segs AS (
  SELECT doc_id, CAST(pos AS INT) AS pos,
         array_to_string(ws[pos*10+1 : pos*10+10], ' ') AS seg
  FROM idx),
ranked AS (
  SELECT doc_id, pos, seg,
         row_number() OVER (PARTITION BY md5(seg) ORDER BY doc_id, pos) AS rn
  FROM segs),
agg AS (
  SELECT doc_id,
         COUNT(*) AS n_spans,
         CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans_kept,
         coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY pos),
                  '') AS text_clean
  FROM ranked GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_spans, 0) AS n_spans,
       coalesce(a.n_spans_kept, 0) AS n_spans_kept,
       coalesce(a.text_clean, '') AS text_clean
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_a28_vocab_census(spark, sf_dir):
    # Corpus-grain vocabulary census per source (Heaps'-law probe): total
    # tokens, DISTINCT terms, and tokens-per-type. lexical_diversity is
    # the per-DOC type/token signal; this is the corpus-level one that
    # says whether a source's vocabulary is still growing (healthy prose)
    # or saturated (template spam). EXACT distinct via Spark's Expand
    # planning (one shuffle, map-side partials), never approx; the
    # tokens-per-type ratio is one exact integer division rounded at 6 dp.
    from ..functions.tokenize import WS_PLUS

    d = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
        lambda w: F.length(w) > 0,
    )
    ex = d.select("source", F.explode(words).alias("term"))
    return ex.groupBy("source").agg(
        F.count("*").alias("n_tokens"),
        F.count_distinct("term").alias("n_terms"),
        F.round(
            F.count("*").cast("decimal(38,12)")
            / F.count_distinct("term").cast("decimal(38,12)"),
            6,
        ).cast("double").alias("tokens_per_type"),
    )


SQL_A28_VOCAB_CENSUS = f"""
WITH ex AS (
  SELECT source, unnest({_WORDS_WS_SQL}) AS term FROM documents)
SELECT source,
       COUNT(*) AS n_tokens,
       COUNT(DISTINCT term) AS n_terms,
       CAST(round(CAST(COUNT(*) AS DECIMAL(38,12))
                  / CAST(COUNT(DISTINCT term) AS DECIMAL(38,12)), 6)
            AS DOUBLE) AS tokens_per_type
FROM ex GROUP BY 1
"""


def q_dedup_spans_within(spark, sf_dir):
    # Map-only within-doc duplicate-span scrub (see span_dedup_within) —
    # NO exchange in the Spark plan; the twin re-keys the same first-
    # occurrence rule as a (doc_id, span) window, values identical.
    from ..operators.dedup import span_dedup_within

    return span_dedup_within(_t(spark, sf_dir, "documents"), span_tokens=5)


SQL_DEDUP_SPANS_WITHIN = f"""
WITH words AS (
  SELECT doc_id, {_WORDS_WS_SQL} AS ws FROM documents),
idx AS (
  SELECT doc_id, ws, unnest(range((len(ws) + 4) // 5)) AS pos FROM words),
segs AS (
  SELECT doc_id, CAST(pos AS INT) AS pos,
         array_to_string(ws[pos*5+1 : pos*5+5], ' ') AS seg
  FROM idx),
ranked AS (
  SELECT doc_id, pos, seg,
         row_number() OVER (PARTITION BY doc_id, md5(seg) ORDER BY pos) AS rn
  FROM segs),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS INT) AS n_spans,
         CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_spans_kept,
         coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY pos),
                  '') AS text_clean
  FROM ranked GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_spans, 0) AS n_spans,
       coalesce(a.n_spans_kept, 0) AS n_spans_kept,
       coalesce(a.text_clean, '') AS text_clean
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_term_df_scrub(spark, sf_dir):
    # Induced-stoplist scrub (see operators/curation.py:term_df_scrub):
    # tokens present in > 30% of documents are corpus boilerplate and
    # are removed from every doc. 0.3 sits inside the fixture's Zipf
    # spread so both the hot set and the kept set are non-trivial.
    from ..operators.curation import term_df_scrub

    return term_df_scrub(_t(spark, sf_dir, "documents"), max_df_frac=0.3)


SQL_TERM_DF_SCRUB = f"""
WITH words AS (
  SELECT doc_id, {_WORDS_WS_SQL} AS ws FROM documents),
tok AS (
  SELECT doc_id, ws, unnest(range(len(ws))) AS pos FROM words),
tok2 AS (
  SELECT doc_id, CAST(pos AS INT) AS pos, ws[pos + 1] AS term FROM tok),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok2 GROUP BY 1),
tot AS (SELECT COUNT(*) AS n FROM documents),
hot AS (SELECT term FROM df, tot WHERE CAST(df AS DOUBLE) > 0.3 * CAST(n AS DOUBLE)),
kept AS (
  SELECT t.doc_id, t.pos, t.term FROM tok2 t
  ANTI JOIN hot h ON t.term = h.term),
agg AS (
  SELECT doc_id,
         COUNT(*) AS n_tokens_kept,
         string_agg(term, ' ' ORDER BY pos) AS text_scrubbed
  FROM kept GROUP BY doc_id)
SELECT w.doc_id,
       CAST(len(w.ws) AS BIGINT) AS n_tokens,
       coalesce(a.n_tokens_kept, 0) AS n_tokens_kept,
       coalesce(a.text_scrubbed, '') AS text_scrubbed
FROM words w LEFT JOIN agg a USING (doc_id)
"""


def q_dedup_minhash_incr(spark, sf_dir):
    """Incremental dedup of a new batch against a PERSISTED corpus band
    index (operators/dedup.py:minhash_index_write /
    minhash_incremental_dedup): corpus = doc_id % 4 != 0 is LSH'd once
    into a band_id-partitioned parquet index; batch = doc_id % 4 == 0 is
    deduped against it (plus within itself) without re-shingling the
    corpus. The steady-state web-ingest shape — the reference re-reads
    its full hub dataset per run (src/data_transformer.py:458-473).
    Returns surviving new doc ids."""
    from ..operators.dedup import (
        MINHASH_COEFFS,
        minhash_incremental_dedup,
        minhash_index_write,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    path = "/tmp/xdan_minhash_index_" + sf_dir.strip("/").replace("/", "_").replace(".", "_")
    # idempotent build (_stage_with_spec): the index is a pure function
    # of (corpus rows, LSH spec); the corpus row count and the hash family
    # are folded into the spec so a regenerated fixture or a changed
    # family restages.
    spec = {"split": "doc_id%4!=0", "bands": 4, "rows": 2,
            "n_shingle": 3, "minhash_coeffs": [list(c) for c in MINHASH_COEFFS],
            "n_corpus": corpus.count()}
    marker = os.path.join(path, "_SPEC.json")
    _stage_with_spec(marker, spec, lambda: minhash_index_write(corpus, path))
    idx = spark.read.parquet(path)
    return minhash_incremental_dedup(
        batch, corpus, idx, threshold=0.5
    ).select("doc_id")


SQL_DEDUP_MINHASH_INCR = f"""
WITH newd AS (
  SELECT min(doc_id) AS doc_id, text FROM documents
  WHERE doc_id % 4 = 0 GROUP BY text),
old AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0),
sigs_new AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM newd),
sigs_old AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM old),
bands_new AS ({_bands_sql_over('sigs_new')}),
bands_old AS ({_bands_sql_over('sigs_old')}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands_old l JOIN bands_new r
    ON l.band_id = r.band_id AND l.band_key = r.band_key
  UNION
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands_new l JOIN bands_new r
    ON l.band_id = r.band_id AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id),
shd AS (
  SELECT doc_id,
         list_distinct([CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) FOR x IN sh]) AS s
  FROM (SELECT * FROM sigs_new UNION ALL SELECT * FROM sigs_old)),
dropped AS (
  SELECT DISTINCT c.b
  FROM cand c JOIN shd sa ON sa.doc_id = c.a JOIN shd sb ON sb.doc_id = c.b
  WHERE CASE WHEN len(list_distinct(list_cat(sa.s, sb.s))) > 0
             THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / CAST(len(list_distinct(list_cat(sa.s, sb.s))) AS DOUBLE)
             ELSE 0.0 END >= 0.5)
SELECT doc_id FROM newd WHERE doc_id NOT IN (SELECT b FROM dropped)
"""


def q_domain_blocklist(spark, sf_dir):
    """Host-reputation filter (operators/curation.py:domain_reputation /
    domain_blocklist / blocklist_filter): per-host mean quality on an
    INTEGER signal (n_chars), hosts below the corpus-wide mean become the
    induced blocklist, corpus filtered by broadcast anti-join on host.
    The test tables carry no url column (the north-rule input schema
    does), so a deterministic url is synthesized per doc — 8 hosts per
    source — and the host is parsed back out with the production
    host_of() regexp, exercising the real parse path."""
    from ..operators.curation import (
        blocklist_filter,
        domain_blocklist,
        domain_reputation,
        host_of,
    )

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://h"),
        F.substring(
            F.md5(F.concat(F.col("source"), F.lit(":"),
                           (F.col("doc_id") % 8).cast("string"))), 1, 6),
        F.lit(".example.com/"), F.col("doc_id").cast("string"),
    )
    pages = docs.withColumn("url", url)
    rep = domain_reputation(pages, "url", "n_chars")
    blocked = domain_blocklist(rep)
    return blocklist_filter(pages, blocked).select(
        "doc_id", host_of("url").alias("host")
    )


SQL_DOMAIN_BLOCKLIST = """
WITH hosted AS (
  SELECT doc_id,
         lower(regexp_extract(
           'https://h' || substr(md5(source || ':' || CAST(doc_id % 8 AS VARCHAR)), 1, 6)
             || '.example.com/' || CAST(doc_id AS VARCHAR),
           '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS host,
         n_chars
  FROM documents),
rep AS (
  SELECT host, COUNT(*) AS n_docs, SUM(CAST(n_chars AS BIGINT)) AS score_sum
  FROM hosted GROUP BY host),
tot AS (SELECT SUM(n_docs) AS tn, SUM(score_sum) AS ts FROM rep),
blocked AS (SELECT host FROM rep, tot WHERE score_sum * tn < ts * n_docs)
SELECT doc_id, host FROM hosted
WHERE host NOT IN (SELECT host FROM blocked)
"""


def q_host_quota_sample(spark, sf_dir):
    """Per-host proportional downsampling
    (operators/curation.py:host_quota_sample): mega-hosts are thinned to
    ~quota docs via a deterministic 60-bit hash test against the host's
    doc count — integer cross-multiplication in DECIMAL(38,0), never a
    float rate, so the keep set is bit-identical cross-engine and
    cluster-size-invariant. One corpus shuffle at host grain; no Window
    (a row_number quota would sort a mega-host in ONE task)."""
    from ..operators.curation import host_of, host_quota_sample

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://h"),
        F.substring(
            F.md5(F.concat(F.col("source"), F.lit(":"),
                           (F.col("doc_id") % 8).cast("string"))), 1, 6),
        F.lit(".example.com/"), F.col("doc_id").cast("string"),
    )
    pages = docs.withColumn("url", url)
    # quota=2 so the hash-threshold branch (not just the small-host
    # pass-through) is live at every fixture sf: sf0.01 has ~3 docs/host,
    # sf0.1 ~31 — both above quota, so the oracle checks real thinning.
    return host_quota_sample(pages, quota=2).select(
        "doc_id", host_of("url").alias("host")
    )


SQL_HOST_QUOTA_SAMPLE = """
WITH hosted AS (
  SELECT doc_id,
         lower(regexp_extract(
           'https://h' || substr(md5(source || ':' || CAST(doc_id % 8 AS VARCHAR)), 1, 6)
             || '.example.com/' || CAST(doc_id AS VARCHAR),
           '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS host
  FROM documents),
counts AS (SELECT host, COUNT(*) AS n FROM hosted GROUP BY host)
SELECT h.doc_id, h.host
FROM hosted h JOIN counts c ON h.host = c.host
WHERE c.n <= 2
   OR CAST(CAST('0x' || substr(md5(CAST(h.doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS HUGEINT)
        * c.n
      < CAST(2 AS HUGEINT) * 1152921504606846976
"""


# DuckDB twin of operators/curation.py:canonical_url — the SAME RE2-safe
# regexp chain (no lookarounds), backrefs spelled \\1 instead of $1 and
# every replace flagged 'g' (Spark's regexp_replace is always global).
def _canon_url_sql(expr: str) -> str:
    auth = "^[A-Za-z][A-Za-z0-9+.-]*://([^/@?#]*@)?[^/:?#]+(:[0-9]+)?"
    u = f"coalesce({expr}, '')"
    u = (f"lower(regexp_extract({u}, '({auth})', 1)) || "
         f"regexp_replace({u}, '{auth}', '', 'g')")
    for pat, rep in [
        ("^(https?://[^/:?#]+):(80|443)([/?#].*)?$", r"\1\3"),
        ("#.*$", ""),
        ("([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*", r"\1"),
        (r"\?&+", "?"),
        ("&&+", "&"),
        ("[?&]$", ""),
        ("(://[^/?#]+/.+?)/$", r"\1"),
        ("^(https?://[^/?#]+)/$", r"\1"),
    ]:
        u = f"regexp_replace({u}, '{pat}', '{rep}', 'g')"
    return u


def q_url_dedup(spark, sf_dir):
    """Last-crawl-wins dedup at canonical-URL grain
    (operators/curation.py:canonical_url / url_dedup): five messy
    variants of each logical URL (tracking params, fragment, trailing
    slash, uppercase host + default port, clean) collapse to ONE
    canonical key; the newest crawl wins via a zero-padded max_by key —
    one map-side-combinable aggregate, no Window. The re-crawl collapse
    every web corpus needs BEFORE content-level dedup."""
    from ..operators.curation import url_dedup

    docs = _t(spark, sf_dir, "documents")
    base = (F.col("doc_id") % 500).cast("string")
    stem = F.concat(F.lit("https://h"), F.substring(F.md5(base), 1, 6),
                    F.lit(".example.com/p/"), base)
    v = F.col("doc_id") % 5
    url = (
        F.when(v == 1, F.concat(stem, F.lit("?utm_source=feed")))
        .when(v == 2, F.concat(stem, F.lit("#section")))
        .when(v == 3, F.concat(stem, F.lit("/")))
        .when(v == 4, F.concat(F.upper(stem), F.lit(":443")))
        .otherwise(stem)
    )
    # NOTE variant 4 appends :443 AFTER the path (an authority-port it is
    # not), so it canonicalizes to a lowercased stem + ':443' suffix — a
    # distinct key from the clean stem. Deliberate: the fixture exercises
    # both collapsing AND non-collapsing variants.
    ts = F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 37)
    pages = docs.select("doc_id", url.alias("url"), ts.alias("crawl_ts"))
    out = url_dedup(pages)
    return out.select(
        "canonical_url", "doc_id",
        F.unix_micros(F.col("crawl_ts")).alias("crawl_ts_us"), "n_crawls",
    )


def _sql_url_dedup() -> str:
    url = """
      CASE doc_id % 5
        WHEN 1 THEN stem || '?utm_source=feed'
        WHEN 2 THEN stem || '#section'
        WHEN 3 THEN stem || '/'
        WHEN 4 THEN upper(stem) || ':443'
        ELSE stem END
    """
    return f"""
WITH stems AS (
  SELECT doc_id,
         'https://h' || substr(md5(CAST(doc_id % 500 AS VARCHAR)), 1, 6)
           || '.example.com/p/' || CAST(doc_id % 500 AS VARCHAR) AS stem,
         to_timestamp(1700000000 + doc_id * 37) AS crawl_ts
  FROM documents),
pages AS (
  SELECT doc_id, {url} AS url, crawl_ts FROM stems),
keyed AS (
  SELECT doc_id, crawl_ts,
         {_canon_url_sql('url')} AS canonical_url,
         lpad(CAST(epoch_us(crawl_ts) AS VARCHAR), 20, '0') || '|'
           || lpad(CAST(doc_id AS VARCHAR), 20, '0') AS k
  FROM pages)
SELECT canonical_url,
       arg_max(doc_id, k) AS doc_id,
       epoch_us(arg_max(crawl_ts, k)) AS crawl_ts_us,
       COUNT(*) AS n_crawls
FROM keyed GROUP BY canonical_url
"""


def q_split_leak_safe(spark, sf_dir):
    """Leakage-safe train/val/test assignment
    (operators/curation.py:leak_safe_split): the split key is the
    CANONICAL text form (the canonical_dedup normalization), so
    byte-identical and case/wrap-variant copies always land in the same
    split; assignment is pmod(md5-60bit, 100) vs integer weight
    boundaries — no RNG, no float, map-side only (zero shuffles)."""
    from ..operators.curation import leak_safe_split

    return leak_safe_split(_t(spark, sf_dir, "documents")).select(
        "doc_id", "split"
    )


SQL_SPLIT_LEAK_SAFE = f"""
SELECT doc_id,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST('0x' || substr(md5(trim(regexp_replace(lower(coalesce(text, '')),
                                                     '{_WS_CLASS_SQL}+', ' ', 'g'))), 1, 15)
              AS BIGINT) % 100 AS b
  FROM documents)
"""


def q_robots_filter(spark, sf_dir):
    """Robots-style disallow filter (operators/curation.py:robots_filter):
    pages whose host has a disallow rule AND whose path starts with the
    rule prefix are dropped via a broadcast LEFT ANTI with the prefix
    test in the join condition — the corpus never shuffles. Rules here:
    each source's '…:0' host disallows paths starting '/1'."""
    from ..operators.curation import host_of, robots_filter

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://h"),
        F.substring(
            F.md5(F.concat(F.col("source"), F.lit(":"),
                           (F.col("doc_id") % 8).cast("string"))), 1, 6),
        F.lit(".example.com/"), F.col("doc_id").cast("string"),
    )
    pages = docs.withColumn("url", url)
    rules = (
        docs.select(
            F.concat(
                F.lit("h"),
                F.substring(F.md5(F.concat(F.col("source"), F.lit(":0"))), 1, 6),
                F.lit(".example.com"),
            ).alias("host")
        )
        .distinct()
        .withColumn("path_prefix", F.lit("/1"))
    )
    return robots_filter(pages, rules).select(
        "doc_id", host_of("url").alias("host")
    )


SQL_ROBOTS_FILTER = """
WITH pages AS (
  SELECT doc_id,
         'h' || substr(md5(source || ':' || CAST(doc_id % 8 AS VARCHAR)), 1, 6)
           || '.example.com' AS host,
         '/' || CAST(doc_id AS VARCHAR) AS path
  FROM documents),
rules AS (
  SELECT DISTINCT
         'h' || substr(md5(source || ':0'), 1, 6) || '.example.com' AS host,
         '/1' AS path_prefix
  FROM documents)
SELECT doc_id, host FROM pages p
WHERE NOT EXISTS (SELECT 1 FROM rules r
                  WHERE r.host = p.host AND starts_with(p.path, r.path_prefix))
"""


def _link_edges(spark, sf_dir):
    """Deterministic 3-out-link graph over the documents table: doc i
    links to (13i + 101k) mod 499 for k ∈ {1,2,3}. Targets need not be
    document ids — pagerank nodes are the src∪dst union, exactly like a
    crawl frontier where most link targets are not yet fetched."""
    d = _t(spark, sf_dir, "documents").select(F.col("doc_id").alias("src"))
    k = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k")
    return d.select("src", k).select(
        "src", F.pmod(F.col("src") * 13 + F.col("k") * 101, F.lit(499)).alias("dst")
    )


_SQL_LINK_EDGES = """
  SELECT doc_id AS src, (doc_id * 13 + k * 101) % 499 AS dst
  FROM documents, UNNEST([1, 2, 3]) AS t(k)
"""


def q_link_pagerank(spark, sf_dir):
    """3-iteration PageRank over the synthesized link graph
    (operators/graph.py:pagerank) — crawl-frontier prioritization /
    link-farm demotion. All arithmetic is 1e12-scaled INTEGER
    fixed-point with round-half-up integral division (float sums are
    order-dependent; Spark's decimal division truncates scale on
    precision overflow), so the ranks are bit-identical cross-engine at
    any parallelism; ONE dst-keyed shuffle per round, map-side partial
    sums, no driver collect."""
    from ..operators.graph import pagerank

    return pagerank(_link_edges(spark, sf_dir), n_iter=3)


def _sql_pagerank() -> str:
    s = 10 ** 12
    it = f"""
SELECT nd.node,
  (({3 * s} * 2 + n.n * 20) // (n.n * 20 * 2))
  + ((coalesce(s.received, 0) * 17 * 2 + 20) // 40) AS fp
FROM nodes nd CROSS JOIN n
LEFT JOIN (
  SELECT e.dst AS node, SUM((r.fp * 2 + d.deg) // (d.deg * 2)) AS received
  FROM e JOIN {{R}} r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst) s
ON nd.node = s.node
"""
    return f"""
WITH e AS ({_SQL_LINK_EDGES}),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
n AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, ({s} * 2 + n) // (n * 2) AS fp FROM nodes CROSS JOIN n),
r1 AS ({it.format(R='r0')}),
r2 AS ({it.format(R='r1')}),
r3 AS ({it.format(R='r2')})
SELECT node, CAST(fp AS DOUBLE) / 1e12 AS rank FROM r3
"""


def q_link_degree_census(spark, sf_dir):
    """Per-node in/out degree census over the link graph
    (operators/graph.py:degree_census) — the structural spam signal
    (doorway pages: in 0; link farms: out ≫ distinct in). Two map-side
    folds full-outer merged at node grain."""
    from ..operators.graph import degree_census

    return degree_census(_link_edges(spark, sf_dir))


SQL_LINK_DEGREE_CENSUS = f"""
WITH e AS ({_SQL_LINK_EDGES}),
o AS (SELECT src AS node, COUNT(*) AS out_degree FROM e GROUP BY src),
i AS (SELECT dst AS node, COUNT(*) AS in_degree FROM e GROUP BY dst)
SELECT coalesce(o.node, i.node) AS node,
       coalesce(out_degree, 0) AS out_degree,
       coalesce(in_degree, 0) AS in_degree
FROM o FULL OUTER JOIN i ON o.node = i.node
"""


def q_mixture_apply(spark, sf_dir):
    """Materialized uniform-mixture resample
    (operators/curation.py:mixture_apply): each source is repeated to
    its exact rational epoch factor — whole copies via integer DIV,
    the fractional copy via a DECIMAL(38,0) hash cross-multiply — so
    the resampled corpus is bit-identical across engines and cluster
    sizes. Plan table broadcast; copies explode map-side."""
    from ..operators.curation import mixture_apply

    return mixture_apply(_t(spark, sf_dir, "documents")).select(
        "doc_id", "source", "copy_id"
    )


SQL_MIXTURE_APPLY = f"""
WITH per AS (
  SELECT source, SUM(len({_WORDS_WS_SQL})) AS tok
  FROM documents GROUP BY source),
pos AS (SELECT * FROM per WHERE tok > 0),
tot AS (SELECT SUM(tok) AS t, COUNT(*) AS s FROM pos),
plan AS (
  SELECT source, s * tok AS den, t AS num
  FROM pos, tot),
j AS (
  SELECT d.doc_id, d.source,
         num // den AS whole, num % den AS rem, den
  FROM documents d JOIN plan USING (source)),
n AS (
  SELECT doc_id, source,
         whole + CASE WHEN
           CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                    || CAST(whole AS VARCHAR)), 1, 15) AS BIGINT)
                AS HUGEINT) * den
           < CAST(rem AS HUGEINT) * 1152921504606846976
         THEN 1 ELSE 0 END AS n_copies
  FROM j)
SELECT doc_id, source, UNNEST(range(0, CAST(n_copies AS BIGINT))) AS copy_id
FROM n WHERE n_copies > 0
"""


def q_normalize_punct(spark, sf_dir):
    """Web-text punctuation normalization
    (operators/curation.py:normalize_punct): four deterministic mess
    variants (curly quotes, em-dash + ellipsis, zero-width + NBSP,
    clean) are injected per doc and normalized back - translate/replace
    whole-stage-codegen expressions with byte-identical DuckDB
    builtins, value-checked on the full normalized text."""
    from ..operators.curation import normalize_punct

    docs = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    v = F.col("doc_id") % 4
    messy = (
        F.when(v == 0, F.concat(F.lit("\u201c"), t, F.lit("\u201d")))
        .when(v == 1, F.concat(t, F.lit(" \u2014 dash\u2026")))
        .when(v == 2, F.concat(F.lit("a\u200bb "), t, F.lit("\u00a0end")))
        .otherwise(t)
    )
    return docs.select("doc_id", normalize_punct(messy).alias("text_norm"))


def _sql_normalize_punct() -> str:
    """Programmatically composed twin: the mapping strings carry curly
    quotes, zero-width chars and NBSP - every non-ASCII character is
    spelled as a \\uXXXX escape (the SAME escapes as the operator), so
    no invisible-character drift can creep in via copy-paste; the SQL
    string itself is assembled at import time."""
    lq, rq = "\u201c", "\u201d"
    em, ell = "\u2014", "\u2026"
    zwsp, nbsp = "\u200b", "\u00a0"
    src = ("\u2018\u2019\u201a\u2032\u201c\u201d\u201e\u2033"
           "\u2013\u2014\u2015\u00a0\u3000")
    apos = chr(39)
    dst_sql = (apos * 4 + chr(34) * 4 + "---  ").replace(apos, apos * 2)
    expr = f"translate(t, '{src}', '{dst_sql}')"
    expr = f"replace({expr}, '{ell}', '...')"
    for c in ("\u200b", "\u200c", "\u200d", "\ufeff", "\u00ad"):
        expr = f"replace({expr}, '{c}', '')"
    return (
        "\nWITH messy AS (\n"
        "  SELECT doc_id,\n"
        "         CASE doc_id % 4\n"
        f"           WHEN 0 THEN '{lq}' || coalesce(text, '') || '{rq}'\n"
        f"           WHEN 1 THEN coalesce(text, '') || ' {em} dash{ell}'\n"
        f"           WHEN 2 THEN 'a{zwsp}b ' || coalesce(text, '') || '{nbsp}end'\n"
        "           ELSE coalesce(text, '') END AS t\n"
        "  FROM documents)\n"
        f"SELECT doc_id, {expr} AS text_norm\n"
        "FROM messy\n"
    )

def q_web_curation_e2e(spark, sf_dir):
    """End-to-end crawl-curation composition: robots disallow filter →
    per-host quota thinning → canonical exact dedup — the first three
    rungs of a web-ingest pipeline CHAINED, oracle-checked as one plan
    (composition is where subtle semantic drift hides; each stage is
    also individually oracle-paired). Every stage keeps its scale
    shape: broadcast anti, host-grain hash thinning, md5-key dedup."""
    from ..operators.curation import host_of, host_quota_sample, robots_filter
    from ..operators.dedup import canonical_dedup

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://h"),
        F.substring(
            F.md5(F.concat(F.col("source"), F.lit(":"),
                           (F.col("doc_id") % 8).cast("string"))), 1, 6),
        F.lit(".example.com/"), F.col("doc_id").cast("string"),
    )
    pages = docs.withColumn("url", url)
    rules = (
        docs.select(
            F.concat(
                F.lit("h"),
                F.substring(F.md5(F.concat(F.col("source"), F.lit(":0"))), 1, 6),
                F.lit(".example.com"),
            ).alias("host")
        )
        .distinct()
        .withColumn("path_prefix", F.lit("/1"))
    )
    allowed = robots_filter(pages, rules)
    thinned = host_quota_sample(allowed, quota=2)
    kept = canonical_dedup(thinned)
    return kept.select("doc_id", host_of("url").alias("host"))


SQL_WEB_CURATION_E2E = f"""
WITH pages AS (
  SELECT doc_id, text,
         'h' || substr(md5(source || ':' || CAST(doc_id % 8 AS VARCHAR)), 1, 6)
           || '.example.com' AS host,
         '/' || CAST(doc_id AS VARCHAR) AS path
  FROM documents),
rules AS (
  SELECT DISTINCT
         'h' || substr(md5(source || ':0'), 1, 6) || '.example.com' AS host,
         '/1' AS path_prefix
  FROM documents),
allowed AS (
  SELECT * FROM pages p
  WHERE NOT EXISTS (SELECT 1 FROM rules r
                    WHERE r.host = p.host AND starts_with(p.path, r.path_prefix))),
counts AS (SELECT host, COUNT(*) AS n FROM allowed GROUP BY host),
thinned AS (
  SELECT a.* FROM allowed a JOIN counts c ON a.host = c.host
  WHERE c.n <= 2
     OR CAST(CAST('0x' || substr(md5(CAST(a.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             AS HUGEINT) * c.n
        < CAST(2 AS HUGEINT) * 1152921504606846976),
keyed AS (
  SELECT doc_id, host,
         md5(trim(regexp_replace(lower(coalesce(text, '')),
                                 '{_WS_CLASS_SQL}+', ' ', 'g'))) AS k
  FROM thinned),
reps AS (SELECT k, min(doc_id) AS doc_id FROM keyed GROUP BY k)
SELECT keyed.doc_id, keyed.host FROM keyed JOIN reps USING (k, doc_id)
"""


def q_tok_bytes_ratio(spark, sf_dir):
    # Tokenizer-fertility profile per language: bytes-per-whitespace-token
    # is the standard proxy for how expensive a language is to tokenize
    # (BPE fertility tracks it closely) and drives per-language token
    # budgets in mixture planning (pairs with mixture_plan, which spends
    # budget in TOKENS while storage is billed in BYTES). Byte counts use
    # octet_length (Spark) / strlen (DuckDB) — both bytes-not-codepoints,
    # so multi-byte scripts diverge from n_chars exactly as they should.
    # One explode-free aggregate: token counts come from the codegen'd
    # size(filter(split(...))) expression, so shuffle rows = langs.
    from ..functions.tokenize import WS_PLUS

    d = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
            lambda w: F.length(w) > 0,
        )
    )
    nbytes = F.octet_length(F.coalesce(F.col("text"), F.lit("")))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(toks.cast("long")).alias("n_tokens"),
        F.sum(nbytes.cast("long")).alias("n_bytes"),
        F.round(
            F.sum(nbytes.cast("decimal(38,12)"))
            / F.sum(toks.cast("decimal(38,12)")),
            6,
        ).cast("double").alias("bytes_per_token"),
    )


SQL_TOK_BYTES_RATIO = f"""
SELECT lang,
       COUNT(*) AS n_docs,
       SUM(len({_WORDS_WS_SQL})) AS n_tokens,
       SUM(strlen(coalesce(text, ''))) AS n_bytes,
       CAST(round(SUM(CAST(strlen(coalesce(text, '')) AS DECIMAL(38,12)))
                  / SUM(CAST(len({_WORDS_WS_SQL}) AS DECIMAL(38,12))), 6)
            AS DOUBLE) AS bytes_per_token
FROM documents GROUP BY 1
"""


def q_hapax_rate(spark, sf_dir):
    # Hapax-legomena share of each source's vocabulary: the fraction of
    # terms seen EXACTLY once. Complements a28_vocab_census's
    # tokens-per-type — a healthy prose source keeps a fat hapax tail
    # (Zipf), template spam has almost none, and OCR/mojibake noise
    # pushes it toward 1.0; both extremes are curation drop signals.
    # Shape: explode → ONE (source, term) count aggregate (map-side
    # combined, the same single-shuffle shape as the census) → a
    # source-grain fold of the term counts. No window, no second pass
    # over the text.
    from ..functions.tokenize import WS_PLUS

    d = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
        lambda w: F.length(w) > 0,
    )
    per_term = (
        d.select("source", F.explode(words).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("tf"))
    )
    return per_term.groupBy("source").agg(
        F.count("*").alias("n_terms"),
        F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.round(
            F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)).cast("decimal(38,12)")
            / F.count("*").cast("decimal(38,12)"),
            6,
        ).cast("double").alias("hapax_share"),
    )


SQL_HAPAX_RATE = f"""
WITH per_term AS (
  SELECT source, term, COUNT(*) AS tf
  FROM (SELECT source, unnest({_WORDS_WS_SQL}) AS term FROM documents)
  GROUP BY 1, 2)
SELECT source,
       COUNT(*) AS n_terms,
       SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS n_hapax,
       CAST(round(CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DECIMAL(38,12))
                  / CAST(COUNT(*) AS DECIMAL(38,12)), 6)
            AS DOUBLE) AS hapax_share
FROM per_term GROUP BY 1
"""


# ------------------------------------------------------------ round-5 batch 15
# Distribution-shape and graph-structure health signals: Zipf
# rank-frequency fit, Flesch readability, two-sample KS drift,
# degree-ordered triangle census, and asymmetric-containment quote
# detection over LSH candidates.


def q_zipf_slope(spark, sf_dir):
    """Per-language Zipf rank-frequency slope over the frequent-term
    head (operators/textstats.py:zipf_slope) — natural prose ≈ −1,
    template spam flattens toward 0. Decimal-summed sufficient
    statistics; closed-form least squares; the rank window sorts only
    the min_count survivors."""
    from ..operators.textstats import zipf_slope

    return zipf_slope(_t(spark, sf_dir, "documents"), min_count=5, top_v=200)


SQL_ZIPF_SLOPE = f"""
WITH ex AS (
  SELECT lang, unnest({_WORDS_WS_SQL}) AS term FROM documents
),
tc AS (SELECT lang, term, COUNT(*) AS cnt FROM ex GROUP BY 1, 2),
rk AS (
  SELECT lang, term, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, term) AS rank
  FROM tc WHERE cnt >= 5
),
pts AS (
  SELECT lang,
         round(ln(CAST(rank AS DOUBLE)), 9) AS x,
         round(ln(CAST(cnt AS DOUBLE)), 9) AS y
  FROM rk WHERE rank <= 200
),
s AS (
  SELECT lang, COUNT(*) AS n_terms,
         SUM(CAST(round(x, 9) AS DECIMAL(28,9))) AS sx,
         SUM(CAST(round(y, 9) AS DECIMAL(28,9))) AS sy,
         SUM(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS sxy,
         SUM(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS sxx
  FROM pts GROUP BY 1
)
SELECT lang, n_terms,
       CASE WHEN n_terms >= 2
                 AND CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
            THEN round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
       END AS zipf_slope
FROM s
"""


def q_flesch_reading(spark, sf_dir):
    """Per-language mean Flesch reading ease (operators/textstats.py:
    flesch_reading_ease) — vowel-group syllable proxy + terminal-punct
    sentence proxy, map-only per doc, bounded decimal group mean."""
    from ..operators.textstats import flesch_reading_ease

    return flesch_reading_ease(_t(spark, sf_dir, "documents"))


SQL_FLESCH_READING = f"""
WITH d AS (
  SELECT lang,
         len({_WORDS_WS_SQL}) AS w,
         greatest(len(regexp_extract_all(coalesce(text, ''), '[.!?]+')), 1) AS s,
         greatest(len(regexp_extract_all(lower(coalesce(text, '')),
                                         '[aeiouy]+')), 1) AS syl
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS n_docs_skipped,
       round(CAST(SUM(CASE WHEN w > 0 THEN CAST(round(
                 206.835
                 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                 - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)), 6)
               AS DECIMAL(20,6)) END) AS DOUBLE)
             / CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS DOUBLE),
             6) AS mean_flesch
FROM d GROUP BY 1
"""


def q_ks_length_drift(spark, sf_dir):
    """Per-source two-sample KS statistic of doc-length distribution vs
    the rest of the corpus (operators/curation.py:ks_drift) — the
    shape-sensitive drift alarm for crawl snapshots. Value-compressed
    ECDFs; MAX (order-free) over fixed-IEEE rounded differences."""
    from ..operators.curation import ks_drift

    return ks_drift(_t(spark, sf_dir, "documents"),
                    value_col="n_chars", group_col="source")


SQL_KS_LENGTH_DRIFT = """
WITH gv AS (SELECT source AS g, n_chars AS v FROM documents),
c AS (SELECT g, v, COUNT(*) AS c FROM gv GROUP BY 1, 2),
vals AS (SELECT DISTINCT v FROM c),
grp AS (SELECT g, SUM(c) AS n_in FROM c GROUP BY 1),
n AS (SELECT COUNT(*) AS _N FROM gv),
grid AS (
  SELECT grp.g, vals.v, grp.n_in, coalesce(c.c, 0) AS c
  FROM grp CROSS JOIN vals
  LEFT JOIN c ON c.g = grp.g AND c.v = vals.v
),
stepped AS (
  SELECT g, v, n_in, c,
         SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum_in
  FROM grid
),
st2 AS (
  SELECT *, SUM(cum_in) OVER (PARTITION BY v) AS cum_all FROM stepped
)
SELECT g AS source, n_in, _N - n_in AS n_rest,
       MAX(CASE WHEN _N - n_in > 0 THEN
             round(abs(CAST(cum_in AS DOUBLE) / CAST(n_in AS DOUBLE)
                       - CAST(cum_all - cum_in AS DOUBLE)
                         / CAST(_N - n_in AS DOUBLE)), 9)
           END) AS ks_stat
FROM st2 CROSS JOIN n
GROUP BY 1, 2, 3
"""


def q_triangle_census(spark, sf_dir):
    """Degree-ordered triangle census over the synthesized link graph
    (operators/graph.py:triangle_census) — the link-farm clique signal.
    Orientation bounds every out-neighborhood at O(√m), so the wedge
    join's output is O(m^1.5) even with celebrity nodes; three
    equi-keyed shuffles, integer counts, no windows."""
    from ..operators.graph import triangle_census

    return triangle_census(_link_edges(spark, sf_dir))


SQL_TRIANGLE_CENSUS = f"""
WITH e0 AS ({_SQL_LINK_EDGES}),
e AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM e0 WHERE src <> dst
),
deg AS (
  SELECT node, COUNT(*) AS deg
  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY 1
),
o AS (
  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS a,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS b
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
w AS (SELECT o1.a AS wa, o2.b AS wc FROM o o1 JOIN o o2 ON o1.b = o2.a),
t AS (SELECT COUNT(*) AS n_triangles FROM w JOIN o ON w.wa = o.a AND w.wc = o.b)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       n_triangles
FROM t
"""


def q_containment_pairs(spark, sf_dir):
    """Asymmetric shingle-containment pairs over LSH candidates
    (operators/dedup.py:containment_pairs) — the quote/superset
    detector Jaccard misses (short doc pasted inside a digest has
    J ≈ 0 but containment = 1). Fixed 8-byte shingle keys through the
    pair join; integer counts divided once."""
    from ..operators.dedup import containment_pairs

    return containment_pairs(_t(spark, sf_dir, "documents"), threshold=0.6)


SQL_CONTAINMENT_PAIRS = f"""
WITH sigs AS (SELECT doc_id, {{shingles}} AS sh FROM documents),
bands AS ({{bands}}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
shd AS (SELECT doc_id, list_distinct([CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) FOR x IN sh]) AS s FROM sigs),
vals AS (
  SELECT c.a, c.b,
         round(CASE WHEN len(sa.s) > 0
                    THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                         / CAST(len(sa.s) AS DOUBLE)
                    ELSE 0.0 END, 6) AS cont_a_in_b,
         round(CASE WHEN len(sb.s) > 0
                    THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                         / CAST(len(sb.s) AS DOUBLE)
                    ELSE 0.0 END, 6) AS cont_b_in_a
  FROM cand c JOIN shd sa ON sa.doc_id = c.a JOIN shd sb ON sb.doc_id = c.b
)
SELECT * FROM vals WHERE cont_a_in_b >= 0.6 OR cont_b_in_a >= 0.6
""".replace("{shingles}", _SHINGLES_SQL).replace("{bands}", _BANDS_SQL)


def q_script_profile(spark, sf_dir):
    """Per-document Unicode script census + mixing ratio
    (operators/textstats.py:script_profile) — the language-ID QA /
    mojibake alarm. Map-only single-char-class regexp counts; the
    dominance CASE chain and this twin are generated from the SAME
    SCRIPT_CLASSES table so they cannot drift."""
    from ..operators.textstats import script_profile

    return script_profile(_t(spark, sf_dir, "documents"))


def _script_profile_sql() -> str:
    from ..operators.textstats import SCRIPT_CLASSES

    names = [n for n, _ in SCRIPT_CLASSES]
    cnt = {
        n: f"len(regexp_extract_all(coalesce(text, ''), '{p}'))"
        for n, p in SCRIPT_CLASSES
    }
    branches = []
    for i, n in enumerate(names):
        conds = [f"n_{n} > 0"]
        conds += [f"n_{n} >= n_{later}" for later in names[i + 1:]]
        conds += [f"n_{n} > n_{earlier}" for earlier in names[:i]]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{n}'")
    dom = "CASE " + " ".join(branches) + " ELSE 'none' END"
    gmax = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    count_cols = ",\n         ".join(f"{cnt[n]} AS n_{n}" for n in names)
    return f"""
WITH d AS (
  SELECT doc_id,
         {count_cols}
  FROM documents
)
SELECT doc_id, {', '.join(f'n_{n}' for n in names)},
       {dom} AS dominant_script,
       CASE WHEN {' + '.join(f'n_{n}' for n in names)} > 0
            THEN round(CAST({' + '.join(f'n_{n}' for n in names)} - {gmax} AS DOUBLE)
                       / CAST({' + '.join(f'n_{n}' for n in names)} AS DOUBLE), 9)
            ELSE 0.0 END AS script_mix_ratio
FROM d
"""


def q_minhash_calibration(spark, sf_dir):
    """MinHash estimate vs exact Jaccard on every LSH candidate pair
    (operators/dedup.py:minhash_calibration) — the sketch-calibration
    report a dedup rollout runs before trusting a threshold. Candidates
    only, one combinable signature aggregate, integer counts divided
    once."""
    from ..operators.dedup import minhash_calibration

    return minhash_calibration(_t(spark, sf_dir, "documents"))


_SIGS_H_SQL = ", ".join(f"{_minhash_sql(j)} AS h{j}" for j in range(8))
_BANDS_FROM_H_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, [h{2 * b}, h{2 * b + 1}] AS band_key FROM sigs"
    for b in range(4)
)
_NMATCH_SQL = " + ".join(
    f"(CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END)" for j in range(8)
)

SQL_MINHASH_CALIBRATION = f"""
WITH sig0 AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
sigs AS (SELECT doc_id, sh, {_SIGS_H_SQL} FROM sig0),
bands AS ({_BANDS_FROM_H_SQL}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
est AS (
  SELECT c.a, c.b, {_NMATCH_SQL} AS n_match
  FROM cand c JOIN sigs sa ON sa.doc_id = c.a JOIN sigs sb ON sb.doc_id = c.b
),
shd AS (SELECT doc_id, list_distinct([CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) FOR x IN sh]) AS s FROM sig0)
SELECT e.a, e.b, e.n_match,
       round(CAST(e.n_match AS DOUBLE) / 8.0, 6) AS est,
       round(CASE WHEN len(list_distinct(list_cat(sa.s, sb.s))) > 0
                  THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                       / CAST(len(list_distinct(list_cat(sa.s, sb.s))) AS DOUBLE)
                  ELSE 0.0 END, 6) AS jaccard
FROM est e JOIN shd sa ON sa.doc_id = e.a JOIN shd sb ON sb.doc_id = e.b
"""


def q_boilerplate_prefix(spark, sf_dir):
    """Per-source boilerplate-PREFIX detector: flag documents whose
    first ``span_tokens`` tokens equal their source's most common
    opening span (site-wide headers / cookie banners / navigation
    chrome open every page identically — the positional complement of
    boilerplate_shingles, which is position-blind). Returns
    (doc_id, source, prefix_share, is_boilerplate_prefix) where
    prefix_share is the fraction of the source's docs opening with
    this doc's prefix.

    Scale shape: prefix hash is map-side (md5 of the first-span join —
    fixed 32-byte key, the text never shuffles); ONE (source, prefix)
    count aggregate; the per-source mode is a max(struct(cnt, ...))
    fold over that bounded table (no window over raw docs); flags
    attach via a broadcast-size join back on (source, prefix). The
    mode tie-breaks on the LOWER prefix hash — integral and
    deterministic cross-engine. Docs with no tokens take prefix '' and
    participate normally (an all-empty source flags them — correctly:
    identical openings)."""
    from ..functions.tokenize import WS_PLUS

    span_tokens = 8
    d = _t(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
        lambda w: F.length(w) > 0,
    )
    pref = F.md5(F.concat_ws(" ", F.slice(words, 1, span_tokens)))
    keyed = d.select("doc_id", "source", pref.alias("_pref"))
    cnt = keyed.groupBy("source", "_pref").agg(F.count("*").alias("c"))
    # the mode is a row_number over the COMPRESSED count table (rows =
    # distinct prefixes per source, not docs), tie-broken by prefix ASC
    # — integral, deterministic, identical window semantics in DuckDB
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("_pref").asc())
    mode = (
        cnt.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_docs", F.sum("c").over(Window.partitionBy("source")))
        .filter(F.col("_rn") == 1)
        .select(
            "source",
            F.col("_pref").alias("_mode_pref"),
            F.col("c").alias("mode_c"),
            "n_docs",
        )
    )
    return (
        keyed.join(F.broadcast(mode), "source")
        .select(
            "doc_id", "source",
            F.round(
                F.col("mode_c").cast("double") / F.col("n_docs").cast("double"), 9
            ).alias("prefix_share"),
            (F.col("_pref") == F.col("_mode_pref")).alias("is_boilerplate_prefix"),
        )
    )


SQL_BOILERPLATE_PREFIX = f"""
WITH keyed AS (
  SELECT doc_id, source,
         md5(array_to_string(({_WORDS_WS_SQL})[1:8], ' ')) AS pref
  FROM documents
),
cnt AS (SELECT source, pref, COUNT(*) AS c FROM keyed GROUP BY 1, 2),
mode AS (
  SELECT source, pref AS mode_pref, c AS mode_c,
         SUM(c) OVER (PARTITION BY source) AS n_docs,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, pref) AS rn
  FROM cnt
)
SELECT k.doc_id, k.source,
       round(CAST(m.mode_c AS DOUBLE) / CAST(m.n_docs AS DOUBLE), 9)
         AS prefix_share,
       k.pref = m.mode_pref AS is_boilerplate_prefix
FROM keyed k JOIN mode m ON k.source = m.source AND m.rn = 1
"""


def q_keep_rate_curve(spark, sf_dir):
    """Keep-rate threshold sweep over the score_core quality score: the
    operating-characteristic report run BEFORE fixing min_score — how
    much corpus survives at each candidate cutoff. ONE pass: nine
    conditional sums ride a single aggregate over the scored table
    (never nine scans), then the 1-row result unpivots to (threshold,
    n_keep, keep_rate) rows driver-side-free via explode."""
    ths = [5.0 + 0.5 * i for i in range(9)]
    scored = q_score_core(spark, sf_dir).select("score")
    aggs = [F.count("*").alias("_n")] + [
        F.sum((F.col("score") >= F.lit(t)).cast("long")).alias(f"_k{i}")
        for i, t in enumerate(ths)
    ]
    one = scored.agg(*aggs)
    rows = F.explode(
        F.array(*[
            F.struct(F.lit(t).alias("threshold"), F.col(f"_k{i}").alias("n_keep"))
            for i, t in enumerate(ths)
        ])
    ).alias("_r")
    return one.select(rows, F.col("_n")).select(
        F.col("_r.threshold").alias("threshold"),
        F.col("_r.n_keep").alias("n_keep"),
        F.round(
            F.col("_r.n_keep").cast("double") / F.col("_n").cast("double"), 9
        ).alias("keep_rate"),
    )


def _sql_keep_rate_curve() -> str:
    ths = [5.0 + 0.5 * i for i in range(9)]
    ks = ", ".join(
        f"SUM(CASE WHEN score >= {t!r} THEN 1 ELSE 0 END) AS k{i}"
        for i, t in enumerate(ths)
    )
    sels = " UNION ALL ".join(
        f"SELECT {t!r} AS threshold, k{i} AS n_keep, "
        f"round(CAST(k{i} AS DOUBLE) / CAST(n AS DOUBLE), 9) AS keep_rate "
        "FROM agg"
        for i, t in enumerate(ths)
    )
    return f"""
WITH sc AS ({_sql_score_core()}),
agg AS (SELECT COUNT(*) AS n, {ks} FROM sc)
{sels}
"""


def q_unigram_kl_drift(spark, sf_dir):
    """Per-source add-1-smoothed KL divergence of the unigram
    distribution vs the rest of the corpus over the top-5000 vocab
    (operators/curation.py:unigram_kl_drift) — the lexical drift alarm
    complementing ks_length_drift's numeric one."""
    from ..operators.curation import unigram_kl_drift

    return unigram_kl_drift(_t(spark, sf_dir, "documents"), top_v=5000)


SQL_UNIGRAM_KL_DRIFT = f"""
WITH gv AS (
  SELECT source AS g, unnest({_WORDS_WS_SQL}) AS t FROM documents
),
tc AS (SELECT g, t, COUNT(*) AS c FROM gv GROUP BY 1, 2),
vocab AS (
  SELECT t, SUM(c) AS ct FROM tc GROUP BY 1
  ORDER BY SUM(c) DESC, t LIMIT 5000
),
vt AS (SELECT * FROM tc WHERE t IN (SELECT t FROM vocab)),
grp AS (SELECT g, SUM(c) AS n_g FROM vt GROUP BY 1),
consts AS (SELECT COUNT(*) AS V, SUM(ct) AS n FROM vocab),
grid AS (
  SELECT grp.g, vocab.t, grp.n_g, vocab.ct, coalesce(vt.c, 0) AS c
  FROM grp CROSS JOIN vocab
  LEFT JOIN vt ON vt.g = grp.g AND vt.t = vocab.t
)
SELECT g AS source, n_g AS n_tokens_vocab,
       round(CAST(SUM(CAST(round(
           (CAST(c + 1 AS DOUBLE) / CAST(n_g + V AS DOUBLE))
           * ln((CAST(c + 1 AS DOUBLE) / CAST(n_g + V AS DOUBLE))
                / (CAST(ct - c + 1 AS DOUBLE)
                   / CAST((n - n_g) + V AS DOUBLE))), 12)
         AS DECIMAL(30,12))) AS DOUBLE), 6) AS kl_vs_rest
FROM grid CROSS JOIN consts
GROUP BY 1, 2
"""


def q_dedup_provenance(spark, sf_dir):
    """Per-doc dedup provenance dashboard: which of the four content
    families (exact / word-set / MinHash / SimHash) keeps each doc, and
    how many drop it (operators/dedup.py:dedup_provenance) —
    diagnostics-grade (executes all four pipelines; run on a shard at
    100 TB, which is how such dashboards are used)."""
    from ..operators.dedup import dedup_provenance

    return dedup_provenance(_t(spark, sf_dir, "documents"))


def _sql_dedup_provenance() -> str:
    return f"""
WITH flags AS (
  SELECT d.doc_id,
    d.doc_id IN (SELECT doc_id FROM ({SQL_DEDUP_EXACT}) t1) AS kept_exact,
    d.doc_id IN (SELECT doc_id FROM ({SQL_DEDUP_WORDSET}) t2) AS kept_wordset,
    d.doc_id IN (SELECT doc_id FROM ({SQL_DEDUP_MINHASH_FULL}) t3) AS kept_minhash,
    d.doc_id IN (SELECT doc_id FROM ({_sql_dedup_simhash()}) t4) AS kept_simhash
  FROM documents d
)
SELECT doc_id, kept_exact, kept_wordset, kept_minhash, kept_simhash,
       4 - (CAST(kept_exact AS INT) + CAST(kept_wordset AS INT)
            + CAST(kept_minhash AS INT) + CAST(kept_simhash AS INT))
         AS n_families_dropped
FROM flags
"""


def q_stream_gopher_score(spark, sf_dir):
    """The quality-filter heuristics running UNDER STRUCTURED STREAMING:
    the documents table is staged as 4 parquet files, streamed with
    maxFilesPerTrigger=1 (4 real micro-batches), and the SAME Gopher
    heuristic projection + keep rule that is hash-green in batch
    (gopher_stats) is applied inside the stream — append mode, map-only,
    so every micro-batch emits immediately with no state. The oracle is
    the batch SQL: a map-only streaming query over a bounded source
    must equal its batch projection bit-for-bit, which is exactly the
    north rule's 'same decisions, streaming or batch' guarantee. Sink,
    naming and staging discipline mirror q_stream_windowed_agg
    (idempotent sf-keyed stage dir + atomic spec marker; per-invocation
    memory-sink name; immediate detach + view drop)."""
    from ..functions.heuristics import heuristic_columns

    batch = _t(spark, sf_dir, "documents")
    stage = "/tmp/xdan_stream_docs_" + sf_dir.strip("/").replace("/", "_")
    spec = {"sf_dir": sf_dir, "rows": batch.count(), "n_files": 4}
    marker = os.path.join(stage, "_SPEC.json")
    _stage_with_spec(
        marker, spec,
        lambda: batch.repartition(4).write.mode("overwrite")
        .parquet(f"{stage}/documents"),
    )
    src = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stage}/documents")
    )
    h = heuristic_columns("text")
    scored = src.select(
        "doc_id",
        h["n_words"].cast("long").alias("n_words"),
        F.round(h["symbol_ratio"], 9).alias("symbol_ratio"),
        F.round(h["dup_line_frac"], 9).alias("dup_line_frac"),
    ).withColumn(
        "keep",
        (F.col("symbol_ratio") <= 0.1) & (F.col("n_words") >= 5)
        & (F.col("dup_line_frac") <= 0.3),
    )
    key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    name = f"stream_gopher_{key}_{next(_STREAM_QUERY_SEQ)}"
    q = (
        scored.writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.table(name)
    local = spark.createDataFrame(out.collect(), schema=out.schema)
    spark.catalog.dropTempView(name)
    return local


SQL_STREAM_GOPHER_SCORE = f"""
WITH g AS ({SQL_GOPHER_STATS})
SELECT doc_id, n_words, symbol_ratio, dup_line_frac,
       symbol_ratio <= 0.1 AND n_words >= 5 AND dup_line_frac <= 0.3 AS keep
FROM g
"""


def q_keep_rate_by_lang(spark, sf_dir):
    """Disparate-impact audit of the keep rule: per-language keep rate
    and mean score from the score_core stack. A quality filter that
    silently drops 80% of one language while keeping 70% of another is
    a corpus-bias incident — this is the fairness report curation
    reviews demand before a filter ships. One bounded GROUP BY over the
    scored table; the rate is integer counts divided once; mean score
    rides the DECIMAL(20,6) cast-sum (score is pre-rounded to 2 dp, so
    the decimal sum is exact and order-free)."""
    scored = q_score_core(spark, sf_dir)
    lang = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        scored.join(lang, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.round(
                F.sum(F.col("keep").cast("long")).cast("double")
                / F.count("*").cast("double"), 9,
            ).alias("keep_rate"),
            F.round(
                F.sum(F.col("score").cast("decimal(20,6)")).cast("double")
                / F.count("*").cast("double"), 6,
            ).alias("mean_score"),
        )
    )


def _sql_keep_rate_by_lang() -> str:
    return f"""
WITH sc AS ({_sql_score_core()}),
j AS (SELECT sc.*, d.lang FROM sc JOIN documents d USING (doc_id))
SELECT lang, COUNT(*) AS n_docs, SUM(keep) AS n_keep,
       round(CAST(SUM(keep) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
         AS keep_rate,
       round(CAST(SUM(CAST(score AS DECIMAL(20,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_score
FROM j GROUP BY 1
"""


def q_redirect_resolve(spark, sf_dir):
    """Redirect-chain canonicalization via pointer doubling
    (operators/graph.py:resolve_redirects): a synthesized functional
    redirect graph (doc d redirects to d−1 unless d ≡ 0 mod 7, so
    chains are up to 6 hops ending at multiples of 7) resolved to
    terminals in log₂(chain) join rounds. The DuckDB twin walks the
    SAME chains with a recursive CTE and keeps each node's terminal
    row — two entirely different algorithms, identical answer."""
    from ..operators.graph import resolve_redirects

    d = _t(spark, sf_dir, "documents")
    edges = d.filter(F.pmod(F.col("doc_id"), F.lit(7)) != 0).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") - 1).alias("dst")
    )
    return resolve_redirects(edges)


SQL_REDIRECT_RESOLVE = """
WITH RECURSIVE e AS (
  SELECT doc_id AS src, doc_id - 1 AS dst FROM documents WHERE doc_id % 7 <> 0
),
walk AS (
  SELECT src AS node, dst AS ptr FROM e
  UNION ALL
  SELECT w.node, e.dst FROM walk w JOIN e ON w.ptr = e.src
)
SELECT node, ptr AS terminal,
       ptr NOT IN (SELECT src FROM e) AS resolved
FROM walk WHERE ptr NOT IN (SELECT src FROM e)
"""


def q_phrase_search(spark, sf_dir):
    """Exact-phrase search via positional posting-list join
    (operators/search.py:phrase_search) — each join leg is filtered to
    ONE phrase term before any exchange, so the join touches two
    posting lists, never the corpus token stream."""
    from ..operators.search import phrase_search

    return phrase_search(_t(spark, sf_dir, "documents"), "table value")


SQL_PHRASE_SEARCH = f"""
WITH base AS (SELECT doc_id, {_WORDS_WS_SQL} AS ws FROM documents),
ex AS (
  SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, unnest(ws) AS term
  FROM base
),
l0 AS (SELECT doc_id, pos AS p0 FROM ex WHERE term = 'table'),
l1 AS (SELECT doc_id, pos - 1 AS p0 FROM ex WHERE term = 'value')
SELECT doc_id, COUNT(*) AS n_matches
FROM l0 JOIN l1 USING (doc_id, p0) GROUP BY 1
"""


def q_bm25_topk(spark, sf_dir):
    """BM25 top-20 for a 3-term query (operators/search.py:bm25_topk) —
    postings filtered to the query terms before aggregation, corpus
    stats broadcast, TakeOrdered top-k; scores bit-deterministic (see
    the operator's float discipline) so the ranked SET is
    engine-identical."""
    from ..operators.search import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"),
                     ["fast", "scan", "table"], k=20)


def _sql_bm25_topk(k1: float = 1.2, b: float = 0.75) -> str:
    terms = "'fast', 'scan', 'table'"
    avgdl = "(CAST(L AS DOUBLE) / CAST(N AS DOUBLE))"
    idf = ("ln(1.0 + (CAST(N AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
           " / (CAST(df AS DOUBLE) + 0.5))")
    denom = (f"(CAST(tf AS DOUBLE) + {k1!r} * (1.0 - {b!r}"
             f" + {b!r} * CAST(dl AS DOUBLE) / {avgdl}))")
    contrib = f"round({idf} * CAST(tf AS DOUBLE) * {k1 + 1.0!r} / {denom}, 9)"
    return f"""
WITH base AS (SELECT doc_id, {_WORDS_WS_SQL} AS ws FROM documents),
lens AS (SELECT doc_id, len(ws) AS dl FROM base),
stats AS (SELECT COUNT(*) AS N, SUM(dl) AS L FROM lens),
ex AS (SELECT doc_id, unnest(ws) AS term FROM base),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM ex
  WHERE term IN ({terms}) GROUP BY 1, 2
),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
j AS (
  SELECT tf.doc_id, {contrib} AS contrib
  FROM tf JOIN dfq USING (term) JOIN lens ON lens.doc_id = tf.doc_id
  CROSS JOIN stats
)
SELECT doc_id,
       round(CAST(SUM(CAST(contrib AS DECIMAL(28,9))) AS DOUBLE), 6) AS score
FROM j GROUP BY 1
ORDER BY score DESC, doc_id LIMIT 20
"""


def q_phrase_search_indexed(spark, sf_dir):
    """Phrase search against the PERSISTED posting index
    (operators/search.py:posting_index_write / phrase_search_indexed):
    the index is staged once per sf_dir (idempotent atomic-marker
    protocol shared with the IVF index), then the probe reads ONLY the
    phrase terms' bucket directories — the xxhash64 bucket predicate is
    constant-folded so Catalyst prunes partitions (inputFiles-proven in
    tests). Same answer as phrase_search, same oracle twin — the index
    is plumbing; the result is what's checked."""
    from ..operators.search import phrase_search_indexed, posting_index_write

    docs = _t(spark, sf_dir, "documents")
    stage = "/tmp/xdan_posting_idx_" + sf_dir.strip("/").replace("/", "_")
    spec = {"sf_dir": sf_dir, "rows": docs.count(), "n_buckets": 64, "v": 1}
    marker = os.path.join(stage, "_SPEC.json")
    _stage_with_spec(
        marker, spec,
        lambda: posting_index_write(docs, f"{stage}/postings", n_buckets=64),
    )
    return phrase_search_indexed(spark, f"{stage}/postings", "table value",
                                 n_buckets=64)


def q_snapshot_diff(spark, sf_dir):
    """Crawl snapshot diff (operators/curation.py:snapshot_diff):
    snapshot A = doc_id < 400 of documents; snapshot B = doc_id ≥ 100
    with every doc_id ≡ 0 mod 5 're-crawled changed' (text suffixed).
    One full-outer join on md5'd content — text never shuffles; the
    per-key status feeds the resume stage so only added ∪ changed
    re-score."""
    from ..operators.curation import snapshot_diff

    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") < 400)
    new = d.filter(F.col("doc_id") >= 100).select(
        "doc_id",
        F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0,
               F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" [rev2]")))
        .otherwise(F.col("text")).alias("text"),
    )
    return snapshot_diff(old, new, key_col="doc_id")


SQL_SNAPSHOT_DIFF = """
WITH o AS (
  SELECT doc_id AS k, md5(coalesce(text, '')) AS ho
  FROM documents WHERE doc_id < 400
),
n AS (
  SELECT doc_id AS k,
         md5(CASE WHEN doc_id % 5 = 0
                  THEN coalesce(text, '') || ' [rev2]'
                  ELSE coalesce(text, '') END) AS hn
  FROM documents WHERE doc_id >= 100
)
SELECT coalesce(o.k, n.k) AS doc_id,
       CASE WHEN o.k IS NULL THEN 'added'
            WHEN n.k IS NULL THEN 'removed'
            WHEN ho <> hn THEN 'changed'
            ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON o.k = n.k
"""


def q_zorder_values(spark, sf_dir):
    """Morton Z-values over (doc_id mod 2¹⁶, n_chars mod 2¹⁶)
    (operators/layout.py:zvalue) — the data-skipping sort key behind
    OPTIMIZE ZORDER BY, as a pure bit-twiddling Column expression.
    Integer-only (shifts/AND/OR with magic masks), bit-identical in any
    engine; the layout's row-group pruning effect is measured from
    parquet footers in tests/test_layout.py."""
    from ..operators.layout import zvalue

    d = _t(spark, sf_dir, "documents")
    x = F.pmod(F.col("doc_id"), F.lit(65536)).cast("long")
    y = F.pmod(F.col("n_chars"), F.lit(65536)).cast("long")
    return d.select("doc_id", x.alias("x"), y.alias("y"),
                    zvalue(x, y).alias("z"))


def _sql_zorder_values() -> str:
    def spread(e: str) -> str:
        out = f"({e} & 65535)"
        for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F),
                         (2, 0x33333333), (1, 0x55555555)):
            out = f"(({out} | ({out} << {sh})) & {mask})"
        return out

    x = "(doc_id % 65536)"
    y = "(n_chars % 65536)"
    return f"""
SELECT doc_id, {x} AS x, {y} AS y,
       ({spread(x)} | ({spread(y)} << 1)) AS z
FROM documents
"""


def q_chunk_plan_strided(spark, sf_dir):
    """Overlapping context-window plan (operators/curation.py:
    chunk_plan_strided) — 64-token windows every 48 tokens; map-only,
    integral window math, one bounded sequence explode."""
    from ..operators.curation import chunk_plan_strided

    return chunk_plan_strided(_t(spark, sf_dir, "documents"),
                              chunk_tokens=64, stride=48)


SQL_CHUNK_STRIDED = f"""
WITH d AS (
  SELECT doc_id, len({_WORDS_WS_SQL}) AS n_tok FROM documents
),
nz AS (
  SELECT doc_id, n_tok,
         1 + (greatest(n_tok - 64, 0) + 47) // 48 AS n_chunks
  FROM d WHERE n_tok > 0
)
SELECT doc_id, chunk_id,
       chunk_id * 48 AS start_tok,
       least(64, n_tok - chunk_id * 48) AS chunk_len,
       n_chunks
FROM nz, UNNEST(range(0, n_chunks)) AS t(chunk_id)
"""


def q_mixture_temperature(spark, sf_dir):
    """Temperature-scaled source mixing (operators/curation.py:
    mixture_plan_temperature, T = 2): target ∝ share^(1/T) — the
    mT5-style upsampling rule for small sources. Bounded census; pow()
    runs once per source, normalizer DECIMAL-folded."""
    from ..operators.curation import mixture_plan_temperature

    return mixture_plan_temperature(_t(spark, sf_dir, "documents"),
                                    temperature=2.0)


SQL_MIXTURE_TEMPERATURE = f"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(len({_WORDS_WS_SQL})) AS n_tokens
  FROM documents GROUP BY 1
),
tot AS (SELECT SUM(n_tokens) AS t FROM per),
powed AS (
  SELECT per.*, t,
         round(pow(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE), 0.5), 12) AS p
  FROM per CROSS JOIN tot
),
norm AS (SELECT SUM(CAST(p AS DECIMAL(30,12))) AS z FROM powed)
SELECT source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE), 9) AS current_share,
       round(p / CAST(z AS DOUBLE), 9) AS target_share,
       round((p / CAST(z AS DOUBLE))
             / (CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE)), 9) AS epochs
FROM powed CROSS JOIN norm
"""


def q_dedup_exact_best(spark, sf_dir):
    """Quality-aware exact dedup (operators/dedup.py:exact_dedup_best):
    byte-identical clusters collapse to their HIGHEST-n_chars member
    (ties → lowest id) instead of the accidental id minimum — one
    struct-max aggregate, never a window over the Zipf-head cluster."""
    from ..operators.dedup import exact_dedup_best

    return exact_dedup_best(
        _t(spark, sf_dir, "documents"), score_col="n_chars"
    ).select("doc_id", "lang", "source", "n_chars")


SQL_DEDUP_EXACT_BEST = """
WITH keyed AS (SELECT *, md5(text) AS k FROM documents),
ranked AS (
  SELECT doc_id, lang, source, n_chars,
         row_number() OVER (PARTITION BY k ORDER BY n_chars DESC, doc_id) AS rn
  FROM keyed
)
SELECT doc_id, lang, source, n_chars FROM ranked WHERE rn = 1
"""


def q_incremental_curation_e2e(spark, sf_dir):
    """Round-5 capstone CHAIN, oracle-checked as ONE plan (composition
    is where semantic drift hides — web_curation_e2e's discipline):
    snapshot_diff picks the added ∪ changed docs of an incremental
    crawl, ONLY those pass the Gopher keep rule, and survivors collapse
    via quality-aware exact dedup (best = longest copy). Each stage is
    individually oracle-paired (snapshot_diff, stream_gopher_score's
    rule, dedup_exact_best); the chain proves they compose. Scale
    shapes are preserved: md5 diff join, map-only heuristics,
    struct-max dedup — no windows over raw docs anywhere."""
    from ..functions.heuristics import heuristic_columns
    from ..operators.curation import snapshot_diff
    from ..operators.dedup import exact_dedup_best

    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") < 400)
    new = d.filter(F.col("doc_id") >= 100).select(
        "doc_id",
        F.when(F.pmod(F.col("doc_id"), F.lit(5)) == 0,
               F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" [rev2]")))
        .otherwise(F.coalesce(F.col("text"), F.lit(""))).alias("text"),
    )
    todo = (
        snapshot_diff(old, new, key_col="doc_id")
        .filter(F.col("status").isin("added", "changed"))
        .select("doc_id")
    )
    work = new.join(todo, "doc_id", "left_semi")
    h = heuristic_columns("text")
    kept = work.select(
        "doc_id", "text",
        h["n_words"].cast("long").alias("_w"),
        F.round(h["symbol_ratio"], 9).alias("_sym"),
        F.round(h["dup_line_frac"], 9).alias("_dlf"),
    ).filter(
        (F.col("_sym") <= 0.1) & (F.col("_w") >= 5) & (F.col("_dlf") <= 0.3)
    ).select("doc_id", "text", F.octet_length("text").alias("_nb"))
    return exact_dedup_best(kept, score_col="_nb").select(
        "doc_id", F.col("_nb").alias("n_bytes_clean")
    )


def _sql_incremental_curation() -> str:
    gopher2 = SQL_GOPHER_STATS.replace("FROM documents", "FROM docs2")
    assert "docs2" in gopher2 and "FROM documents" not in gopher2
    return f"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN coalesce(text, '') || ' [rev2]'
              ELSE coalesce(text, '') END AS text
  FROM documents WHERE doc_id >= 100
),
o AS (
  SELECT doc_id AS k, md5(coalesce(text, '')) AS ho
  FROM documents WHERE doc_id < 400
),
nn AS (SELECT doc_id AS k, md5(text) AS hn FROM docs2),
todo AS (
  SELECT nn.k AS doc_id FROM nn LEFT JOIN o ON o.k = nn.k
  WHERE o.k IS NULL OR o.ho <> nn.hn
),
g AS ({gopher2}),
kept AS (
  SELECT g.doc_id, d2.text, strlen(d2.text) AS nb
  FROM g JOIN todo ON todo.doc_id = g.doc_id
  JOIN docs2 d2 ON d2.doc_id = g.doc_id
  WHERE round(g.symbol_ratio, 9) <= 0.1 AND g.n_words >= 5
    AND round(g.dup_line_frac, 9) <= 0.3
),
ranked AS (
  SELECT doc_id, nb,
         row_number() OVER (PARTITION BY md5(text) ORDER BY nb DESC, doc_id) AS rn
  FROM kept
)
SELECT doc_id, nb AS n_bytes_clean FROM ranked WHERE rn = 1
"""



# ------------------------------------------------------------ round-5 batch 37
# Probabilistic-sketch family (operators/sketches.py): md5-derived
# deterministic HyperLogLog and count-min — the whole sketch state is
# oracle-checkable, not just its contract — plus Gini source
# concentration.

_HLL_RAW_NUM = repr((0.7213 / (1.0 + 1.079 / 256.0)) * 256 * 256 * float(1 << 57))


def q_hll_vocab(spark, sf_dir):
    """Deterministic HyperLogLog (m=256) over the corpus term stream
    next to the exact distinct count (operators/sketches.py:
    hll_estimate) — integer register max + DECIMAL harmonic sum, one
    terminal float division, so the ESTIMATE itself is bit-identical
    cross-engine at any parallelism."""
    from ..functions.tokenize import WS_PLUS
    from ..operators.sketches import hll_estimate

    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(
            F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda w: F.length(w) > 0)
        ).alias("v")
    )
    return hll_estimate(terms, "v")


SQL_HLL_VOCAB = f"""
WITH terms AS (SELECT unnest({_WORDS_WS_SQL}) AS v FROM documents),
h AS (
  SELECT CAST('0x' || substr(md5('hl:' || v), 1, 8) AS BIGINT) AS hl,
         CAST('0x' || substr(md5('hh:' || v), 1, 8) AS BIGINT) AS hh
  FROM terms
),
r AS (SELECT hl & 255 AS idx, (hl >> 8) * 4294967296 + hh AS w FROM h),
regs AS (
  SELECT idx,
         MAX(CASE WHEN w = 0 THEN 57 ELSE 57 - length(bin(w)) END) AS rho
  FROM r GROUP BY idx
),
s AS (
  SELECT COUNT(*) AS n_present,
         SUM(CAST((CAST(1 AS BIGINT) << CAST(57 - rho AS INT)) AS DECIMAL(38,0))) AS s_present
  FROM regs
),
e AS (SELECT COUNT(DISTINCT v) AS exact_distinct FROM terms),
t AS (
  SELECT 256 AS m,
         256 - n_present AS n_zero_registers,
         s_present + CAST(256 - n_present AS DECIMAL(38,0))
                     * CAST(144115188075855872 AS DECIMAL(38,0)) AS s_total,
         exact_distinct
  FROM s CROSS JOIN e
),
est AS (
  SELECT m, n_zero_registers, exact_distinct,
         {_HLL_RAW_NUM} / CAST(s_total AS DOUBLE) AS raw
  FROM t
),
fin AS (
  SELECT m, n_zero_registers, exact_distinct,
         CASE WHEN raw <= 640.0 AND n_zero_registers > 0
              THEN 256.0 * ln(256.0 / CAST(n_zero_registers AS DOUBLE))
              ELSE raw END AS est
  FROM est
)
SELECT m, n_zero_registers, round(est, 4) AS hll_estimate, exact_distinct,
       round((round(est, 4) - CAST(exact_distinct AS DOUBLE))
             / CAST(exact_distinct AS DOUBLE), 6) AS rel_error
FROM fin
"""


def q_cms_terms(spark, sf_dir):
    """Count-min heavy hitters: top-20 corpus terms with true counts
    next to their 4x1024-counter sketch estimates (operators/
    sketches.py:cms_heavy_hitters) — estimate >= truth by construction,
    the overcount column measures real collision error."""
    from ..functions.tokenize import WS_PLUS
    from ..operators.sketches import cms_heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(
            F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda w: F.length(w) > 0)
        ).alias("v")
    )
    return cms_heavy_hitters(terms, "v", top_k=20)


SQL_CMS_TERMS = f"""
WITH terms AS (SELECT unnest({_WORDS_WS_SQL}) AS v FROM documents),
ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
cells AS (
  SELECT d AS row_id,
         CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || v), 1, 8) AS BIGINT)
         % 1024 AS col_id
  FROM terms CROSS JOIN ds
),
sketch AS (SELECT row_id, col_id, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
truth AS (SELECT v AS value, COUNT(*) AS true_cnt FROM terms GROUP BY 1),
top AS (
  SELECT value, true_cnt,
         row_number() OVER (ORDER BY true_cnt DESC, value) AS rk
  FROM truth QUALIFY rk <= 20
),
probes AS (
  SELECT value, true_cnt, d AS row_id,
         CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || value), 1, 8) AS BIGINT)
         % 1024 AS col_id
  FROM top CROSS JOIN ds
),
est AS (
  SELECT value, true_cnt, MIN(cnt) AS cms_estimate
  FROM probes JOIN sketch USING (row_id, col_id)
  GROUP BY 1, 2
)
SELECT value, true_cnt, cms_estimate, cms_estimate - true_cnt AS overcount
FROM est
"""


def q_gini_sources(spark, sf_dir):
    """One-row Gini coefficient of document concentration across
    sources (operators/curation.py:gini_concentration) — the
    single-number corpus-diversity alarm; exact decimal rank-weighted
    sums, one terminal float division."""
    from ..operators.curation import gini_concentration

    return gini_concentration(_t(spark, sf_dir, "documents"), "source")


SQL_GINI_SOURCES = """
WITH per AS (
  SELECT source AS grp, CAST(COUNT(*) AS DECIMAL(20,6)) AS x
  FROM documents GROUP BY 1
),
ranked AS (
  SELECT grp, x, row_number() OVER (ORDER BY x, grp) AS i FROM per
),
agg AS (
  SELECT COUNT(*) AS n_groups, SUM(x) AS sx,
         SUM(CAST(i AS DECIMAL(10,0)) * x) AS six
  FROM ranked
)
SELECT n_groups,
       CAST(sx AS DOUBLE) AS total_weight,
       round((2.0 * CAST(six AS DOUBLE)
              - CAST(n_groups + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n_groups AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
FROM agg
"""



# ------------------------------------------------------------ round-5 batch 38
# Graph authority scores and a column-completeness profiler.


def q_hits_scores(spark, sf_dir):
    """2-iteration HITS hubs/authorities over the synthesized link
    graph (operators/graph.py:hits_scores) — the complementary link
    signal to PageRank (link farms light up hub AND authority at once).
    1e6-scaled integer fixed-point with round-half-up integral
    renormalization, bit-identical cross-engine."""
    from ..operators.graph import hits_scores

    return hits_scores(_link_edges(spark, sf_dir), n_iter=2)


def _sql_hits(n_iter: int = 2) -> str:
    s = 10 ** 6
    parts = [f"""
WITH e AS ({_SQL_LINK_EDGES}),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, CAST({s} AS BIGINT) AS h FROM nodes)"""]
    prev_h = "h0"
    for i in range(1, n_iter + 1):
        parts.append(f""",
a{i}_full AS (
  SELECT nd.node, coalesce(x.a, 0) AS a
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, SUM(r.h) AS a
    FROM e JOIN {prev_h} r ON e.src = r.node GROUP BY e.dst) x
  ON nd.node = x.node
),
a{i}_mx AS (SELECT MAX(a) AS mx FROM a{i}_full),
a{i} AS (
  SELECT node,
         CASE WHEN mx > 0 THEN (a * {s} * 2 + mx) // (mx * 2) ELSE 0 END AS a
  FROM a{i}_full CROSS JOIN a{i}_mx
),
h{i}_full AS (
  SELECT nd.node, coalesce(x.h, 0) AS h
  FROM nodes nd LEFT JOIN (
    SELECT e.src AS node, SUM(r.a) AS h
    FROM e JOIN a{i} r ON e.dst = r.node GROUP BY e.src) x
  ON nd.node = x.node
),
h{i}_mx AS (SELECT MAX(h) AS mx FROM h{i}_full),
h{i} AS (
  SELECT node,
         CASE WHEN mx > 0 THEN (h * {s} * 2 + mx) // (mx * 2) ELSE 0 END AS h
  FROM h{i}_full CROSS JOIN h{i}_mx
)""")
        prev_h = f"h{i}"
    parts.append(f"""
SELECT h.node, CAST(h.h AS DOUBLE) / 1e6 AS hub,
       CAST(a.a AS DOUBLE) / 1e6 AS authority
FROM h{n_iter} h JOIN a{n_iter} a ON a.node = h.node
""")
    return "".join(parts)


SQL_HITS_SCORES = _sql_hits(2)


def q_profile_documents(spark, sf_dir):
    """Column-completeness profile of the documents table — per column:
    row count, nulls, empty strings, exact distincts. The data-quality
    profiling report every ingest gate runs first; ONE wide aggregate
    (Spark plans the multi-distinct via Expand — one shuffle, map-side
    partials), unpivoted to long form over a bounded literal stack."""
    d = _t(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = [F.count("*").alias("_n")]
    for c in cols:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_null_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_dist_{c}"))
        if c in ("text", "lang", "source"):
            aggs.append(
                F.sum(F.when(F.col(c) == "", 1).otherwise(0)).alias(f"_emp_{c}")
            )
    wide = d.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").alias("n_rows"),
            F.col(f"_null_{c}").cast("long").alias("n_null"),
            (F.col(f"_emp_{c}").cast("long") if c in ("text", "lang", "source")
             else F.lit(None).cast("long")).alias("n_empty"),
            F.col(f"_dist_{c}").alias("n_distinct"),
        )
        for c in cols
    ])
    return wide.select(F.explode(rows).alias("_r")).select(
        "_r.column", "_r.n_rows", "_r.n_null", "_r.n_empty", "_r.n_distinct"
    )


SQL_PROFILE_DOCUMENTS = """
SELECT 'doc_id' AS "column", COUNT(*) AS n_rows,
       SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS n_null,
       CAST(NULL AS BIGINT) AS n_empty,
       COUNT(DISTINCT doc_id) AS n_distinct
FROM documents
UNION ALL
SELECT 'text', COUNT(*),
       SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
       SUM(CASE WHEN text = '' THEN 1 ELSE 0 END),
       COUNT(DISTINCT text)
FROM documents
UNION ALL
SELECT 'lang', COUNT(*),
       SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
       SUM(CASE WHEN lang = '' THEN 1 ELSE 0 END),
       COUNT(DISTINCT lang)
FROM documents
UNION ALL
SELECT 'source', COUNT(*),
       SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
       SUM(CASE WHEN source = '' THEN 1 ELSE 0 END),
       COUNT(DISTINCT source)
FROM documents
UNION ALL
SELECT 'n_chars', COUNT(*),
       SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),
       CAST(NULL AS BIGINT),
       COUNT(DISTINCT n_chars)
FROM documents
"""



# ------------------------------------------------------------ round-5 batch 39
# Streaming HLL (register state under a real micro-batch stream), k-core
# peel, link reciprocity/assortativity report, SCD2 content-history
# intervals, and boolean AND retrieval.


def q_stream_hll(spark, sf_dir):
    """The HyperLogLog register table as STREAMING STATE: the corpus
    term stream runs through a real 4-micro-batch file stream, the
    (idx, max(rho)) aggregation is the stream's complete-mode state
    (256 rows — the canonical streaming-sketch story), and the finisher
    (operators/sketches.py:hll_estimate_from_registers) turns the final
    register table into the estimate. The oracle is the batch SQL: max()
    is batch-order-insensitive, so streaming registers MUST equal batch
    registers bit-for-bit — the sketch mergeability guarantee run under
    the real streaming engine, not asserted. Staging/naming discipline
    mirrors q_stream_gopher_score."""
    from ..functions.tokenize import WS_PLUS
    from ..operators.sketches import hll_estimate_from_registers, hll_registers

    batch = _t(spark, sf_dir, "documents")
    stage = "/tmp/xdan_stream_docs_" + sf_dir.strip("/").replace("/", "_")
    spec = {"sf_dir": sf_dir, "rows": batch.count(), "n_files": 4}
    marker = os.path.join(stage, "_SPEC.json")
    _stage_with_spec(
        marker, spec,
        lambda: batch.repartition(4).write.mode("overwrite")
        .parquet(f"{stage}/documents"),
    )
    src = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stage}/documents")
    )
    terms = src.select(
        F.explode(
            F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda w: F.length(w) > 0)
        ).alias("v")
    )
    regs = hll_registers(terms, "v")
    key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    name = f"stream_hll_{key}_{next(_STREAM_QUERY_SEQ)}"
    q = (
        regs.writeStream.outputMode("complete").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.table(name)
    local_regs = spark.createDataFrame(out.collect(), schema=out.schema)
    spark.catalog.dropTempView(name)
    return hll_estimate_from_registers(local_regs)


SQL_STREAM_HLL = f"""
WITH terms AS (SELECT unnest({_WORDS_WS_SQL}) AS v FROM documents),
h AS (
  SELECT CAST('0x' || substr(md5('hl:' || v), 1, 8) AS BIGINT) AS hl,
         CAST('0x' || substr(md5('hh:' || v), 1, 8) AS BIGINT) AS hh
  FROM terms
),
r AS (SELECT hl & 255 AS idx, (hl >> 8) * 4294967296 + hh AS w FROM h),
regs AS (
  SELECT idx,
         MAX(CASE WHEN w = 0 THEN 57 ELSE 57 - length(bin(w)) END) AS rho
  FROM r GROUP BY idx
),
s AS (
  SELECT COUNT(*) AS n_present,
         SUM(CAST((CAST(1 AS BIGINT) << CAST(57 - rho AS INT)) AS DECIMAL(38,0))) AS s_present
  FROM regs
),
t AS (
  SELECT 256 AS m,
         256 - n_present AS n_zero_registers,
         s_present + CAST(256 - n_present AS DECIMAL(38,0))
                     * CAST(144115188075855872 AS DECIMAL(38,0)) AS s_total
  FROM s
),
est AS (
  SELECT m, n_zero_registers, {_HLL_RAW_NUM} / CAST(s_total AS DOUBLE) AS raw
  FROM t
)
SELECT m, n_zero_registers,
       round(CASE WHEN raw <= 640.0 AND n_zero_registers > 0
                  THEN 256.0 * ln(256.0 / CAST(n_zero_registers AS DOUBLE))
                  ELSE raw END, 4) AS hll_estimate
FROM est
"""


def q_kcore_links(spark, sf_dir):
    """3-round 3-core peel over the synthesized link graph
    (operators/graph.py:kcore_peel) — the densely-interlinked kernel
    that paid-link rings survive and organic neighborhoods don't.
    Bounded rounds make the result a deterministic function of the
    input (each round a monotone over-approximation of the true core),
    so the unrolled-CTE twin matches exactly."""
    from ..operators.graph import kcore_peel

    return kcore_peel(_link_edges(spark, sf_dir), k=3, n_rounds=3)


def _sql_kcore(k: int = 3, n_rounds: int = 3) -> str:
    parts = [f"""
WITH e AS ({_SQL_LINK_EDGES}),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM e WHERE src <> dst
),
s0 AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und)"""]
    for i in range(1, n_rounds + 1):
        parts.append(f""",
k{i} AS (SELECT u FROM s{i - 1} GROUP BY u HAVING COUNT(*) >= {k}),
s{i} AS (
  SELECT s.u, s.v FROM s{i - 1} s
  JOIN k{i} a ON s.u = a.u JOIN k{i} b ON s.v = b.u
)""")
    parts.append(f"""
SELECT u AS node, COUNT(*) AS degree
FROM s{n_rounds} GROUP BY u HAVING COUNT(*) >= {k}
""")
    return "".join(parts)


SQL_KCORE_LINKS = _sql_kcore(3, 3)


def q_link_structure(spark, sf_dir):
    """One-row reciprocity + degree-assortativity report over the link
    graph (operators/graph.py:link_structure_stats) — mutual-exchange
    rings score high reciprocity, farm cliques positive assortativity;
    exact DECIMAL moment sums, one terminal IEEE expression."""
    from ..operators.graph import link_structure_stats

    return link_structure_stats(_link_edges(spark, sf_dir))


SQL_LINK_STRUCTURE = f"""
WITH e0 AS ({_SQL_LINK_EDGES}),
e AS (SELECT DISTINCT src AS u, dst AS v FROM e0 WHERE src <> dst),
recip AS (
  SELECT COUNT(*) AS nr FROM e a
  WHERE EXISTS (SELECT 1 FROM e b WHERE b.u = a.v AND b.v = a.u)
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY node
),
paired AS (
  SELECT du.deg AS dx, dv.deg AS dy
  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
),
m AS (
  SELECT COUNT(*) AS n_edges,
         CAST(SUM(CAST(dx AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(dy AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(dx AS HUGEINT) * dy) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(dx AS HUGEINT) * dx) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(dy AS HUGEINT) * dy) AS DOUBLE) AS syy
  FROM paired
)
SELECT n_edges,
       round(CAST(nr AS DOUBLE) / CAST(n_edges AS DOUBLE), 9) AS reciprocity,
       round(CASE WHEN CAST(n_edges AS DOUBLE) * sxx - sx * sx > 0
                   AND CAST(n_edges AS DOUBLE) * syy - sy * sy > 0
                  THEN (CAST(n_edges AS DOUBLE) * sxy - sx * sy)
                       / (sqrt(CAST(n_edges AS DOUBLE) * sxx - sx * sx)
                          * sqrt(CAST(n_edges AS DOUBLE) * syy - sy * sy))
                  ELSE 0.0 END, 9) AS assortativity
FROM m CROSS JOIN recip
"""


def q_scd2_pages(spark, sf_dir):
    """SCD2 content-history intervals over a synthesized crawl log
    (operators/curation.py:scd2_intervals): 50 logical pages, ~10
    crawls each at sf0.01, content version changing every 3rd crawl AND cycling
    back (A->B->C->A) so re-appearing content provably opens a NEW
    interval. The content-history table an incremental crawl keeps next
    to snapshot_diff; timestamps emitted as epoch-us."""
    from ..operators.curation import scd2_intervals

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(F.lit("p"), (F.col("doc_id") % 50).cast("string"))
    ts = F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 37)
    ver = F.expr("(doc_id DIV 150) % 3").cast("string")
    crawls = docs.select(
        page.alias("page"),
        ts.alias("crawl_ts"),
        F.md5(F.concat(page, F.lit(":"), ver)).alias("content_hash"),
    )
    out = scd2_intervals(crawls, "page", "crawl_ts", "content_hash")
    return out.select(
        "page", "content_hash",
        F.unix_micros(F.col("valid_from")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to")).alias("valid_to_us"),
        "is_current",
    )


SQL_SCD2_PAGES = """
WITH crawls AS (
  SELECT 'p' || CAST(doc_id % 50 AS VARCHAR) AS page,
         to_timestamp(1700000000 + doc_id * 37) AS crawl_ts,
         md5('p' || CAST(doc_id % 50 AS VARCHAR) || ':'
             || CAST((doc_id // 150) % 3 AS VARCHAR)) AS content_hash
  FROM documents
),
flagged AS (
  SELECT page, crawl_ts, content_hash,
         lag(content_hash) OVER (PARTITION BY page
                                 ORDER BY crawl_ts, content_hash) AS prev
  FROM crawls
),
chg AS (
  SELECT page, content_hash, crawl_ts AS vf
  FROM flagged WHERE prev IS NULL OR prev <> content_hash
),
iv AS (
  SELECT page, content_hash, vf,
         lead(vf) OVER (PARTITION BY page ORDER BY vf, content_hash) AS vt
  FROM chg
)
SELECT page, content_hash,
       epoch_us(vf) AS valid_from_us,
       epoch_us(vt) AS valid_to_us,
       vt IS NULL AS is_current
FROM iv
"""


def q_bool_search(spark, sf_dir):
    """Boolean AND retrieval: documents containing ALL of
    {join, hash, vector} (operators/search.py:boolean_and_search) —
    posting-list intersection as a literal map-side term filter + one
    count-k fold, no join at all."""
    from ..operators.search import boolean_and_search

    return boolean_and_search(
        _t(spark, sf_dir, "documents"), ["join", "hash", "vector"]
    )


SQL_BOOL_SEARCH = f"""
WITH ex AS (
  SELECT doc_id, unnest(list_distinct({_WORDS_WS_SQL})) AS t FROM documents
)
SELECT doc_id, COUNT(*) AS n_terms_matched
FROM ex WHERE t IN ('join', 'hash', 'vector')
GROUP BY doc_id HAVING COUNT(*) = 3
"""



# ------------------------------------------------------------ round-5 batch 40
# Exact-k weighted sampling, grouped HLL, mutual information, and
# pairwise FD discovery.


def q_wrs_sample(spark, sf_dir):
    """Efraimidis-Spirtakis weighted reservoir top-k: exactly 100 docs
    sampled without replacement with inclusion probability ~ n_chars
    (sources/readers.py:weighted_reservoir_topk). u is md5-derived (no
    RNG), key = ln(u)/w is one fixed IEEE sequence rounded at 12 dp
    with an id tie-break, so the SAMPLE SET ITSELF is engine-exact;
    selection plans TakeOrderedAndProject (per-partition heaps)."""
    from ..sources.readers import weighted_reservoir_topk

    d = _t(spark, sf_dir, "documents")
    return weighted_reservoir_topk(d, 100, "n_chars").select(
        "doc_id", "n_chars", "wrs_key"
    )


SQL_WRS_SAMPLE = """
WITH s AS (
  SELECT doc_id, n_chars,
         round(
           ln((CAST(CAST('0x' || substr(md5('wrs:' || CAST(doc_id AS VARCHAR)),
                                        1, 15) AS BIGINT) AS DOUBLE) + 0.5)
              / 1152921504606846976.0)
           / CAST(n_chars AS DOUBLE), 12) AS wrs_key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, wrs_key FROM s
ORDER BY wrs_key DESC, doc_id LIMIT 100
"""


def q_hll_by_source(spark, sf_dir):
    """GROUPED HyperLogLog: per-source vocabulary estimate next to the
    exact distinct (operators/sketches.py:hll_estimate_by) — one
    256-row register table per source, merging across shards with
    max(); identical constants/op order to the global sketch."""
    from ..functions.tokenize import WS_PLUS
    from ..operators.sketches import hll_estimate_by

    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(
        "source",
        F.explode(
            F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda w: F.length(w) > 0)
        ).alias("v"),
    )
    return hll_estimate_by(terms, "v", "source")


SQL_HLL_BY_SOURCE = f"""
WITH terms AS (
  SELECT source, unnest({_WORDS_WS_SQL}) AS v FROM documents
),
h AS (
  SELECT source,
         CAST('0x' || substr(md5('hl:' || v), 1, 8) AS BIGINT) AS hl,
         CAST('0x' || substr(md5('hh:' || v), 1, 8) AS BIGINT) AS hh
  FROM terms
),
r AS (SELECT source, hl & 255 AS idx, (hl >> 8) * 4294967296 + hh AS w FROM h),
regs AS (
  SELECT source, idx,
         MAX(CASE WHEN w = 0 THEN 57 ELSE 57 - length(bin(w)) END) AS rho
  FROM r GROUP BY 1, 2
),
s AS (
  SELECT source, COUNT(*) AS n_present,
         SUM(CAST((CAST(1 AS BIGINT) << CAST(57 - rho AS INT)) AS DECIMAL(38,0))) AS s_present
  FROM regs GROUP BY 1
),
e AS (SELECT source, COUNT(DISTINCT v) AS exact_distinct FROM terms GROUP BY 1),
t AS (
  SELECT s.source, 256 AS m, 256 - n_present AS n_zero_registers,
         s_present + CAST(256 - n_present AS DECIMAL(38,0))
                     * CAST(144115188075855872 AS DECIMAL(38,0)) AS s_total,
         exact_distinct
  FROM s JOIN e ON s.source = e.source
),
est AS (
  SELECT source, m, n_zero_registers, exact_distinct,
         {_HLL_RAW_NUM} / CAST(s_total AS DOUBLE) AS raw
  FROM t
),
fin AS (
  SELECT source, m, n_zero_registers, exact_distinct,
         CASE WHEN raw <= 640.0 AND n_zero_registers > 0
              THEN 256.0 * ln(256.0 / CAST(n_zero_registers AS DOUBLE))
              ELSE raw END AS est
  FROM est
)
SELECT source, m, n_zero_registers, round(est, 4) AS hll_estimate,
       exact_distinct,
       round((round(est, 4) - CAST(exact_distinct AS DOUBLE))
             / CAST(exact_distinct AS DOUBLE), 6) AS rel_error
FROM fin
"""


def q_lang_source_mi(spark, sf_dir):
    """One-row mutual information (nats) between lang and source
    (operators/metrics.py:mutual_information) — the information-
    theoretic fairness audit: high MI means language is predicted by
    source; per-cell terms rounded + DECIMAL-summed (order-free)."""
    from ..operators.metrics import mutual_information

    return mutual_information(_t(spark, sf_dir, "documents"), "lang", "source")


SQL_LANG_SOURCE_MI = """
WITH cells AS (
  SELECT lang AS a, source AS b, COUNT(*) AS c_ab FROM documents GROUP BY 1, 2
),
ma AS (SELECT a, SUM(c_ab) AS c_a FROM cells GROUP BY 1),
mb AS (SELECT b, SUM(c_ab) AS c_b FROM cells GROUP BY 1),
tot AS (SELECT SUM(c_ab) AS n_rows FROM cells),
j AS (
  SELECT n_rows,
         CAST(round(
           (CAST(c_ab AS DOUBLE) / CAST(n_rows AS DOUBLE))
           * ln(CAST(c_ab AS DOUBLE) * CAST(n_rows AS DOUBLE)
                / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE))), 9)
         AS DECIMAL(20,9)) AS t
  FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
)
SELECT n_rows, COUNT(*) AS n_cells,
       round(CAST(SUM(t) AS DOUBLE), 6) AS mi_nats
FROM j GROUP BY n_rows
"""


def q_fd_census(spark, sf_dir):
    """Pairwise FD discovery over (lang, source, n_chars)
    (operators/metrics.py:fd_discovery) — which column determines
    which, as a violation census per ordered pair; the
    schema-inference report a new feed gets before constraints are
    written by hand."""
    from ..operators.metrics import fd_discovery

    return fd_discovery(
        _t(spark, sf_dir, "documents"), ["lang", "source", "n_chars"]
    )


def _sql_fd_pair(lhs: str, rhs: str) -> str:
    return f"""
SELECT '{lhs}' AS lhs, '{rhs}' AS rhs,
       COUNT(*) AS n_lhs_values,
       SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating,
       SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (
  SELECT {lhs}, COUNT(*) AS nd
  FROM (SELECT DISTINCT {lhs}, {rhs} FROM documents) GROUP BY 1
)"""


SQL_FD_CENSUS = "\nUNION ALL\n".join(
    _sql_fd_pair(a, b)
    for a in ("lang", "source", "n_chars")
    for b in ("lang", "source", "n_chars")
    if a != b
)


# ------------------------------------------------------------ round-5 batch 41
# Contrastive negative sampling.


def q_negative_samples(spark, sf_dir):
    """Deterministic same-source hard negatives for contrastive
    training (operators/curation.py:negative_samples): anchors are
    every 100th doc, 3 negatives each from md5-bucket representatives
    — no per-group rank window (scale-safe on mega-sources), no RNG."""
    from ..operators.curation import negative_samples

    d = _t(spark, sf_dir, "documents")
    return negative_samples(
        d, n_negatives=3, anchor_filter=(F.col("doc_id") % 100 == 0)
    )


SQL_NEGATIVE_SAMPLES = """
WITH reps AS (
  SELECT source AS g,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
         % 64 AS b,
         MIN(doc_id) AS negative_id
  FROM documents GROUP BY 1, 2
),
slots AS (
  SELECT doc_id AS anchor_id, source AS g, j AS neg_slot,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
                                 || CAST(j AS VARCHAR)), 1, 15) AS BIGINT)
         % 64 AS b
  FROM documents CROSS JOIN (SELECT unnest([1, 2, 3]) AS j)
  WHERE doc_id % 100 = 0
)
SELECT anchor_id, neg_slot, negative_id
FROM slots JOIN reps USING (g, b)
WHERE negative_id <> anchor_id
"""



# ------------------------------------------------------------ round-5 batch 42
# Privacy risk census and EXACT set-similarity join (prefix filtering).


def q_k_anon_docs(spark, sf_dir):
    """k-anonymity + l-diversity risk census over the (lang,
    length-bucket) quasi-identifier with source as the sensitive
    attribute (operators/metrics.py:k_anonymity_census) — the release
    gate's privacy audit; bounded class-grain folds only."""
    from ..operators.metrics import k_anonymity_census

    base = _t(spark, sf_dir, "documents").select(
        "lang", F.expr("n_chars DIV 100").alias("len_bucket"), "source"
    )
    return k_anonymity_census(base, ["lang", "len_bucket"], k=5,
                              sensitive_col="source")


SQL_K_ANON_DOCS = """
WITH base AS (
  SELECT lang, n_chars // 100 AS len_bucket, source FROM documents
),
pairs AS (
  SELECT lang, len_bucket, source, COUNT(*) AS c FROM base GROUP BY 1, 2, 3
),
classes AS (
  SELECT lang, len_bucket, SUM(c) AS n, COUNT(*) AS l
  FROM pairs GROUP BY 1, 2
)
SELECT COUNT(*) AS n_classes, SUM(n) AS n_rows,
       SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS n_classes_below_k,
       SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS n_rows_at_risk,
       MIN(n) AS min_class_size,
       MIN(l) AS min_l
FROM classes
"""


def q_prefix_jaccard_pairs(spark, sf_dir):
    """EXACT token-set similarity join at Jaccard >= 9/10 via prefix
    filtering (operators/dedup.py:prefix_filter_pairs, the PPJoin
    family) — guaranteed recall 1.0, the exact complement to
    MinHash-LSH; all-integer verify with a rational boundary.

    Scoped to a deterministic 1-in-5 shard: pair ENUMERATION over a
    near-dup-dense corpus has quadratic TRUE output by definition (this
    synthetic template corpus holds ~965k genuine pairs at tau = 0.9 at
    sf0.1 — measured in both engines), so the enumeration form is a
    shard-level diagnostic; the production path consumes CLUSTERS via
    cc_dedup/minhash_dedup, which collapse without enumerating."""
    from ..operators.dedup import prefix_filter_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return prefix_filter_pairs(docs, threshold_num=9, threshold_den=10)


SQL_PREFIX_JACCARD_PAIRS = f"""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
tok AS (
  SELECT doc_id, unnest(list_distinct({_WORDS_WS_SQL})) AS term FROM base
),
vocab AS (SELECT term, COUNT(*) AS dfq FROM tok GROUP BY 1),
ranks AS (
  SELECT term, row_number() OVER (ORDER BY dfq, term) AS grank FROM vocab
),
sizes AS (SELECT doc_id, COUNT(*) AS s FROM tok GROUP BY 1),
pref AS (
  SELECT doc_id, term, s FROM (
    SELECT t.doc_id, t.term, z.s,
           row_number() OVER (PARTITION BY t.doc_id ORDER BY r.grank) AS dr
    FROM tok t JOIN ranks r ON t.term = r.term JOIN sizes z ON t.doc_id = z.doc_id
  ) WHERE dr <= s - (9 * s + 9) // 10 + 1
),
cand AS (
  SELECT DISTINCT pa.doc_id AS a, pb.doc_id AS b
  FROM pref pa JOIN pref pb ON pa.term = pb.term AND pa.doc_id < pb.doc_id
   AND pb.s * 10 >= pa.s * 9 AND pa.s * 10 >= pb.s * 9
),
shared AS (
  SELECT c.a, c.b, COUNT(*) AS n_shared
  FROM cand c JOIN tok ta ON ta.doc_id = c.a
  JOIN tok tb ON tb.doc_id = c.b AND tb.term = ta.term
  GROUP BY 1, 2
)
SELECT s.a, s.b, s.n_shared,
       round(CAST(s.n_shared AS DOUBLE)
             / CAST(za.s + zb.s - s.n_shared AS DOUBLE), 6) AS jaccard
FROM shared s JOIN sizes za ON za.doc_id = s.a JOIN sizes zb ON zb.doc_id = s.b
WHERE s.n_shared * 10 >= 9 * (za.s + zb.s - s.n_shared)
"""


# ------------------------------------------------------------ round-5 batch 43
# Source-profile cosine map.


def q_source_cosine(spark, sf_dir):
    """Pairwise unigram-profile cosine between sources
    (operators/textstats.py:source_similarity_matrix) — the corpus map
    that catches mirror/syndication source pairs before a mixing stage
    upweights both; exact DECIMAL dot/norm sums, one terminal IEEE
    expression per pair."""
    from ..operators.textstats import source_similarity_matrix

    return source_similarity_matrix(_t(spark, sf_dir, "documents"))


SQL_SOURCE_COSINE = f"""
WITH ex AS (SELECT source AS src, unnest({_WORDS_WS_SQL}) AS term FROM documents),
tc AS (SELECT src, term, COUNT(*) AS c FROM ex GROUP BY 1, 2),
norms AS (
  SELECT src,
         SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(18,0))) AS n2
  FROM tc GROUP BY 1
),
crossed AS (
  SELECT ta.src AS a, tb.src AS b, COUNT(*) AS n_shared_terms,
         SUM(CAST(ta.c AS DECIMAL(19,0)) * CAST(tb.c AS DECIMAL(18,0))) AS dot
  FROM tc ta JOIN tc tb ON ta.term = tb.term AND ta.src < tb.src
  GROUP BY 1, 2
)
SELECT a, b, n_shared_terms,
       round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
             6) AS cosine
FROM crossed JOIN norms na ON a = na.src JOIN norms nb ON b = nb.src
"""


# ------------------------------------------------------------ round-5 batch 44
# Homoglyph spoof census and Neyman-optimal sample allocation.


def q_homoglyph_spoof(spark, sf_dir):
    """Homoglyph spoof census (operators/curation.py:homoglyph_census):
    every 20th doc gets a deterministic Cyrillic a/e/o substitution
    injected (the filter-evasion trick), and the fold-based detector
    must flag exactly those — per-source counts, map-only translate."""
    from ..operators.curation import homoglyph_census

    d = _t(spark, sf_dir, "documents")
    spoofed_text = F.when(
        F.col("doc_id") % 20 == 0,
        F.translate(F.coalesce(F.col("text"), F.lit("")), "aeo",
                    "\u0430\u0435\u043e"),
    ).otherwise(F.col("text"))
    staged = d.select("doc_id", spoofed_text.alias("text"), "source")
    return homoglyph_census(staged)


SQL_HOMOGLYPH_SPOOF = """
WITH staged AS (
  SELECT source,
         CASE WHEN doc_id % 20 = 0
              THEN translate(coalesce(text, ''), 'aeo', 'аео')
              ELSE text END AS text
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       SUM(CASE WHEN translate(coalesce(text, ''),
                               'аеорсхуіѕАЕОРСХοαΑΕΟ', 'aeopcxyisAEOPCXoaAEO')
                <> coalesce(text, '') THEN 1 ELSE 0 END) AS n_spoofed,
       round(CAST(SUM(CASE WHEN translate(coalesce(text, ''),
                                          'аеорсхуіѕАЕОРСХοαΑΕΟ', 'aeopcxyisAEOPCXoaAEO')
                           <> coalesce(text, '') THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) AS spoof_rate
FROM staged GROUP BY source
"""


def q_neyman_plan(spark, sf_dir):
    """Neyman-optimal allocation plan for a 1000-doc stratified sample
    over languages, y = n_chars (operators/metrics.py:
    neyman_allocation) — variance-minimizing budget split; exact
    decimal moments, one sqrt, floored allocation with the remainder
    reported."""
    from ..operators.metrics import neyman_allocation

    return neyman_allocation(
        _t(spark, sf_dir, "documents"), "lang", "n_chars", total_k=1000
    )


SQL_NEYMAN_PLAN = """
WITH m AS (
  SELECT lang AS stratum, COUNT(*) AS n,
         SUM(CAST(n_chars AS DECIMAL(38,0))) AS sy,
         SUM(CAST(CAST(n_chars AS DECIMAL(19,0))
                  * CAST(n_chars AS DECIMAL(18,0)) AS DECIMAL(38,0))) AS syy
  FROM documents GROUP BY 1
),
staged AS (
  SELECT stratum, n,
         sqrt(greatest(
           CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
           - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS sd
  FROM m
),
w AS (SELECT stratum, n, sd, CAST(n AS DOUBLE) * sd AS wgt FROM staged),
tot AS (SELECT SUM(wgt) AS tw FROM w)
SELECT stratum, n, round(sd, 6) AS sd,
       CAST(floor(wgt * 1000.0 / tw) AS BIGINT) AS alloc_k,
       round(wgt * 1000.0 / tw - floor(wgt * 1000.0 / tw), 6) AS alloc_frac
FROM w CROSS JOIN tot
"""



# ------------------------------------------------------------ round-5 batch 45
# Data-contract gate, mergeable log-bucket quantile sketch, and
# count-min as streaming state.


def q_contract_checks(spark, sf_dir):
    """Declarative data-contract gate over documents
    (operators/metrics.py:contract_report): six rules — id/lang/source
    non-null, n_chars in range, text non-empty, doc_id unique — ALL
    evaluated in one wide aggregate over one scan, unpivoted to a
    per-rule pass/fail report."""
    from ..operators.metrics import contract_report

    d = _t(spark, sf_dir, "documents")
    rules = {
        "doc_id_not_null": F.col("doc_id").isNull(),
        "lang_not_null": F.col("lang").isNull(),
        "source_not_null": F.col("source").isNull(),
        "n_chars_in_range": F.col("n_chars").isNull()
        | (F.col("n_chars") < 0) | (F.col("n_chars") > 1_000_000),
        "text_not_empty": F.coalesce(F.col("text"), F.lit("")) == "",
    }
    return contract_report(d, rules, unique_cols=["doc_id"])


SQL_CONTRACT_CHECKS = """
WITH wide AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS v_id,
         SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS v_lang,
         SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS v_source,
         SUM(CASE WHEN n_chars IS NULL OR n_chars < 0 OR n_chars > 1000000
                  THEN 1 ELSE 0 END) AS v_range,
         SUM(CASE WHEN coalesce(text, '') = '' THEN 1 ELSE 0 END) AS v_text,
         COUNT(DISTINCT doc_id) AS d_id
  FROM documents
)
SELECT rule, n_violations, n_violations = 0 AS passed FROM (
  SELECT 'doc_id_not_null' AS rule, v_id AS n_violations FROM wide
  UNION ALL SELECT 'lang_not_null', v_lang FROM wide
  UNION ALL SELECT 'source_not_null', v_source FROM wide
  UNION ALL SELECT 'n_chars_in_range', v_range FROM wide
  UNION ALL SELECT 'text_not_empty', v_text FROM wide
  UNION ALL SELECT 'unique:doc_id', n - d_id FROM wide
)
"""


def q_log_quantile_sketch(spark, sf_dir):
    """Mergeable power-of-two-bucket quantile sketch over doc lengths
    (operators/sketches.py:log_histogram_quantiles) — <=64 counters,
    cell-wise-sum mergeable, guaranteed 2x relative error; reported
    next to the exact type-7 quantiles with the est/exact ratio."""
    from ..operators.sketches import log_histogram_quantiles

    return log_histogram_quantiles(
        _t(spark, sf_dir, "documents"), "n_chars", (0.5, 0.9, 0.99)
    )


SQL_LOG_QUANTILE_SKETCH = """
WITH pos AS (SELECT CAST(n_chars AS BIGINT) AS v FROM documents WHERE n_chars > 0),
hist AS (SELECT length(bin(v)) AS b, COUNT(*) AS c FROM pos GROUP BY 1),
staged AS (
  SELECT b, c,
         SUM(c) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER () AS n
  FROM hist
),
qs AS (SELECT unnest([500, 900, 990]) AS num),
est AS (
  SELECT CAST(num AS DOUBLE) / 1000.0 AS quantile,
         (SELECT CASE WHEN MIN(b) = 1 THEN 1.0
                      ELSE 3.0 * power(2.0, MIN(b) - 2) END
          FROM staged WHERE cum >= (num * n + 999) // 1000) AS est
  FROM qs CROSS JOIN (SELECT DISTINCT n FROM staged)
),
vh AS (
  SELECT v, c,
         SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - c AS cum_prev,
         SUM(c) OVER () AS n
  FROM (SELECT v, COUNT(*) AS c FROM pos GROUP BY 1)
),
ex AS (
  SELECT CAST(q.num AS DOUBLE) / 1000.0 AS quantile,
         (SELECT MIN(v) FROM vh
          WHERE cum_prev < floor(CAST(q.num AS DOUBLE) / 1000.0
                                 * CAST(t.n - 1 AS DOUBLE)) + 1
            AND cum >= floor(CAST(q.num AS DOUBLE) / 1000.0
                             * CAST(t.n - 1 AS DOUBLE)) + 1) AS lo,
         (SELECT MIN(v) FROM vh
          WHERE cum_prev < floor(CAST(q.num AS DOUBLE) / 1000.0
                                 * CAST(t.n - 1 AS DOUBLE)) + 2
            AND cum >= floor(CAST(q.num AS DOUBLE) / 1000.0
                             * CAST(t.n - 1 AS DOUBLE)) + 2) AS hi,
         CAST(q.num AS DOUBLE) / 1000.0 * CAST(t.n - 1 AS DOUBLE)
           - floor(CAST(q.num AS DOUBLE) / 1000.0 * CAST(t.n - 1 AS DOUBLE)) AS f
  FROM (SELECT unnest([500, 900, 990]) AS num) q
  CROSS JOIN (SELECT DISTINCT n FROM vh) t
),
exact AS (
  SELECT quantile,
         CAST(lo AS DOUBLE) + f * CAST(coalesce(hi, lo) - lo AS DOUBLE) AS exact
  FROM ex
)
SELECT e.quantile, round(e.est, 6) AS est, round(x.exact, 6) AS exact,
       round(e.est / x.exact, 6) AS ratio
FROM est e JOIN exact x ON e.quantile = x.quantile
"""


def q_stream_cms(spark, sf_dir):
    """Count-min as STREAMING STATE: the term stream runs through the
    4-micro-batch file stream with the (row_id, col_id) -> sum(cnt)
    cells as complete-mode state (<= 4 096 rows), then the collected
    sketch is probed for the top-10 true heavy hitters computed batch-
    side — streaming cell sums MUST equal batch cell sums (sum is
    batch-order-insensitive), the CMS mergeability twin of
    q_stream_hll. Staging/naming mirrors q_stream_gopher_score."""
    from ..functions.tokenize import WS_PLUS
    from ..operators.sketches import CMS_D, CMS_WIDTH, _h32

    batch = _t(spark, sf_dir, "documents")
    stage = "/tmp/xdan_stream_docs_" + sf_dir.strip("/").replace("/", "_")
    spec = {"sf_dir": sf_dir, "rows": batch.count(), "n_files": 4}
    marker = os.path.join(stage, "_SPEC.json")
    _stage_with_spec(
        marker, spec,
        lambda: batch.repartition(4).write.mode("overwrite")
        .parquet(f"{stage}/documents"),
    )
    src = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stage}/documents")
    )
    terms = src.select(
        F.explode(
            F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda w: F.length(w) > 0)
        ).alias("v")
    )
    cells = F.array(*[
        F.struct(
            F.lit(d).alias("row_id"),
            F.pmod(_h32(F.col("v"), d), F.lit(CMS_WIDTH)).alias("col_id"),
        )
        for d in range(CMS_D)
    ])
    sketch_stream = (
        terms.select(F.explode(cells).alias("_c"))
        .groupBy(F.col("_c.row_id").alias("row_id"),
                 F.col("_c.col_id").alias("col_id"))
        .agg(F.count("*").alias("cnt"))
    )
    key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    name = f"stream_cms_{key}_{next(_STREAM_QUERY_SEQ)}"
    q = (
        sketch_stream.writeStream.outputMode("complete").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.table(name)
    sketch = spark.createDataFrame(out.collect(), schema=out.schema)
    spark.catalog.dropTempView(name)

    truth = batch.select(
        F.explode(
            F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda w: F.length(w) > 0)
        ).alias("v")
    ).groupBy(F.col("v").alias("value")).agg(F.count("*").alias("true_cnt"))
    from pyspark.sql import Window as W

    top = truth.withColumn(
        "_rk",
        F.row_number().over(W.orderBy(F.desc("true_cnt"), F.asc("value"))),
    ).filter(F.col("_rk") <= 10).drop("_rk")
    probes = top.select(
        "value", "true_cnt",
        F.explode(F.array(*[
            F.struct(
                F.lit(d).alias("row_id"),
                F.pmod(_h32(F.col("value"), d), F.lit(CMS_WIDTH)).alias("col_id"),
            )
            for d in range(CMS_D)
        ])).alias("_c"),
    ).select("value", "true_cnt",
             F.col("_c.row_id").alias("row_id"),
             F.col("_c.col_id").alias("col_id"))
    return (
        probes.join(sketch, ["row_id", "col_id"])
        .groupBy("value", "true_cnt")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select("value", "true_cnt", "cms_estimate",
                (F.col("cms_estimate") - F.col("true_cnt")).alias("overcount"))
    )


SQL_STREAM_CMS = f"""
WITH terms AS (SELECT unnest({_WORDS_WS_SQL}) AS v FROM documents),
ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
cells AS (
  SELECT d AS row_id,
         CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || v), 1, 8) AS BIGINT)
         % 1024 AS col_id
  FROM terms CROSS JOIN ds
),
sketch AS (SELECT row_id, col_id, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
truth AS (SELECT v AS value, COUNT(*) AS true_cnt FROM terms GROUP BY 1),
top AS (
  SELECT value, true_cnt,
         row_number() OVER (ORDER BY true_cnt DESC, value) AS rk
  FROM truth QUALIFY rk <= 10
),
probes AS (
  SELECT value, true_cnt, d AS row_id,
         CAST('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || value), 1, 8) AS BIGINT)
         % 1024 AS col_id
  FROM top CROSS JOIN ds
),
est AS (
  SELECT value, true_cnt, MIN(cnt) AS cms_estimate
  FROM probes JOIN sketch USING (row_id, col_id)
  GROUP BY 1, 2
)
SELECT value, true_cnt, cms_estimate, cms_estimate - true_cnt AS overcount
FROM est
"""


# ------------------------------------------------------------ round-5 batch 46
# Rank-biased overlap, keep-rate two-proportion A/B test, and the
# vocabulary coverage curve.


def q_rbo_source_rankings(spark, sf_dir):
    """Rank-biased overlap between two source rankings — by document
    count vs by token count (operators/metrics.py:rank_biased_overlap,
    p=0.9, depth=20): the top-weighted ranking-drift score; if the two
    orderings of the mixing table diverge, doc-count-based budgets and
    token-count-based budgets disagree exactly where it matters."""
    from ..functions.tokenize import WS_PLUS
    from ..operators.metrics import rank_biased_overlap

    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda w: F.length(w) > 0)
    per = d.groupBy("source").agg(
        F.count("*").alias("nd"),
        F.sum(F.size(words).cast("long")).alias("nt"),
    )
    wa = Window.orderBy(F.desc("nd"), F.asc("source"))
    wb = Window.orderBy(F.desc("nt"), F.asc("source"))
    ra = per.select("source", F.row_number().over(wa).alias("rank"))
    rb = per.select("source", F.row_number().over(wb).alias("rank"))
    return rank_biased_overlap(ra, rb, "source", p=0.9, depth=20)


SQL_RBO_SOURCE_RANKINGS = f"""
WITH per AS (
  SELECT source, COUNT(*) AS nd,
         SUM(CAST(len({_WORDS_WS_SQL}) AS BIGINT)) AS nt
  FROM documents GROUP BY 1
),
ra AS (SELECT source, row_number() OVER (ORDER BY nd DESC, source) AS r FROM per),
rb AS (SELECT source, row_number() OVER (ORDER BY nt DESC, source) AS r FROM per),
shared AS (
  SELECT greatest(ra.r, rb.r) AS m
  FROM ra JOIN rb ON ra.source = rb.source
  WHERE greatest(ra.r, rb.r) <= 20
),
grid AS (SELECT m, COUNT(*) AS c FROM shared GROUP BY 1),
full_g AS (
  SELECT d, coalesce(c, 0) AS c
  FROM (SELECT unnest(generate_series(1, 20)) AS d)
  LEFT JOIN grid ON d = m
),
overl AS (
  SELECT d,
         SUM(c) OVER (ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ov
  FROM full_g
)
SELECT 20 AS depth, 0.9 AS p,
       round(0.09999999999999998 *
             CAST(SUM(CAST(round(power(0.9, d - 1) * CAST(ov AS DOUBLE)
                                 / CAST(d AS DOUBLE), 12)
                      AS DECIMAL(24,12))) AS DOUBLE), 6) AS rbo
FROM overl
"""


def q_keep_ab_test(spark, sf_dir):
    """Pairwise two-proportion z-test of the Gopher keep rate between
    sources: (a, b, keep_a, keep_b, z, significant) — the statistical
    form of the fairness question keep_rate_by_lang eyeballs (is
    source A's keep rate REALLY lower, or binomial noise?); pooled-SE
    z from exact integer counts, one fixed IEEE sequence per pair,
    |z| > 1.96 at alpha = 0.05."""
    from ..functions.heuristics import heuristic_columns

    d = _t(spark, sf_dir, "documents")
    h = heuristic_columns("text")
    keep = (
        (F.round(h["symbol_ratio"], 9) <= 0.1)
        & (h["n_words"].cast("long") >= 5)
        & (F.round(h["dup_line_frac"], 9) <= 0.3)
    )
    per = d.select("source", keep.alias("_k")).groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("_k"), 1).otherwise(0)).alias("k"),
    )
    a = per.select(F.col("source").alias("a"), F.col("n").alias("na"),
                   F.col("k").alias("ka"))
    b = per.select(F.col("source").alias("b"), F.col("n").alias("nb"),
                   F.col("k").alias("kb"))
    pairs = a.join(b, F.col("a") < F.col("b"))
    p1 = F.col("ka").cast("double") / F.col("na").cast("double")
    p2 = F.col("kb").cast("double") / F.col("nb").cast("double")
    pp = (F.col("ka") + F.col("kb")).cast("double") / (
        F.col("na") + F.col("nb")
    ).cast("double")
    se = F.sqrt(
        pp * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("na").cast("double")
           + F.lit(1.0) / F.col("nb").cast("double"))
    )
    z = F.when(se > 0, (p1 - p2) / se).otherwise(F.lit(0.0))
    return pairs.select(
        "a", "b",
        F.round(p1, 6).alias("keep_a"),
        F.round(p2, 6).alias("keep_b"),
        F.round(z, 6).alias("z"),
        (F.abs(F.round(z, 6)) > 1.96).alias("significant"),
    )


SQL_KEEP_AB_TEST = f"""
WITH base AS (
  SELECT source, coalesce(text, '') AS t, {_WORDS_WS_SQL} AS ws FROM documents
),
ln AS (
  SELECT source, t, ws,
         list_filter(regexp_split_to_array(t, '{_WS_CLASS_SQL}*\n{_WS_CLASS_SQL}*'),
                     x -> x <> '') AS lines
  FROM base
),
g AS (
  SELECT source,
         len(ws) AS n_words,
         round(CASE WHEN len(ws) = 0 THEN 0.0
                    ELSE CAST(length(t) - length(translate(t, {_SYM_TRANSLATE_SQL}, ''))
                              AS DOUBLE) / len(ws) END, 9) AS symbol_ratio,
         round(CASE WHEN len(lines) <= 1 THEN 0.0
                    ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                         / len(lines) END, 9) AS dup_line_frac
  FROM ln
),
per AS (
  SELECT source, COUNT(*) AS n,
         SUM(CASE WHEN symbol_ratio <= 0.1 AND n_words >= 5
                   AND dup_line_frac <= 0.3 THEN 1 ELSE 0 END) AS k
  FROM g GROUP BY 1
),
pairs AS (
  SELECT pa.source AS a, pb.source AS b,
         pa.n AS na, pa.k AS ka, pb.n AS nb, pb.k AS kb
  FROM per pa JOIN per pb ON pa.source < pb.source
),
zc AS (
  SELECT a, b, na, ka, nb, kb,
         CAST(ka AS DOUBLE) / CAST(na AS DOUBLE) AS p1,
         CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE) AS p2,
         CAST(ka + kb AS DOUBLE) / CAST(na + nb AS DOUBLE) AS pp
  FROM pairs
)
SELECT a, b, round(p1, 6) AS keep_a, round(p2, 6) AS keep_b,
       round(CASE WHEN sqrt(pp * (1.0 - pp)
                            * (1.0 / CAST(na AS DOUBLE)
                               + 1.0 / CAST(nb AS DOUBLE))) > 0
                  THEN (p1 - p2)
                       / sqrt(pp * (1.0 - pp)
                              * (1.0 / CAST(na AS DOUBLE)
                                 + 1.0 / CAST(nb AS DOUBLE)))
                  ELSE 0.0 END, 6) AS z,
       abs(round(CASE WHEN sqrt(pp * (1.0 - pp)
                            * (1.0 / CAST(na AS DOUBLE)
                               + 1.0 / CAST(nb AS DOUBLE))) > 0
                  THEN (p1 - p2)
                       / sqrt(pp * (1.0 - pp)
                              * (1.0 / CAST(na AS DOUBLE)
                                 + 1.0 / CAST(nb AS DOUBLE)))
                  ELSE 0.0 END, 6)) > 1.96 AS significant
FROM zc
"""


def q_vocab_coverage(spark, sf_dir):
    """Token-mass coverage of the top-k vocabulary for k in
    {100, 1000, 10000} (operators/textstats.py:vocab_coverage_curve) —
    the tokenizer-budget curve (Zipf concavity) read before fixing a
    vocab size or stoplist cutoff."""
    from ..operators.textstats import vocab_coverage_curve

    return vocab_coverage_curve(_t(spark, sf_dir, "documents"))


SQL_VOCAB_COVERAGE = f"""
WITH tc AS (
  SELECT term, COUNT(*) AS c FROM (
    SELECT unnest({_WORDS_WS_SQL}) AS term FROM documents
  ) GROUP BY 1
),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rk FROM tc
),
wide AS (
  SELECT COUNT(*) AS vocab_size, SUM(c) AS total_tokens,
         SUM(CASE WHEN rk <= 100 THEN c ELSE 0 END) AS cov100,
         SUM(CASE WHEN rk <= 1000 THEN c ELSE 0 END) AS cov1000,
         SUM(CASE WHEN rk <= 10000 THEN c ELSE 0 END) AS cov10000
  FROM ranked
)
SELECT k, vocab_size, covered_tokens, total_tokens,
       round(CAST(covered_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
         AS coverage
FROM (
  SELECT 100 AS k, vocab_size, cov100 AS covered_tokens, total_tokens FROM wide
  UNION ALL
  SELECT 1000, vocab_size, cov1000, total_tokens FROM wide
  UNION ALL
  SELECT 10000, vocab_size, cov10000, total_tokens FROM wide
)
"""



# ------------------------------------------------------------ round-5 batch 47
# CDC changelog apply (MERGE semantics).


def q_cdc_docs(spark, sf_dir):
    """CDC changelog applied to the documents snapshot
    (operators/resume.py:cdc_apply — MERGE INTO semantics): every 10th
    doc carries TWO updates with conflicting sequence numbers (the
    higher must win), every 10th+1 doc is deleted, every 100th spawns
    an insert under a fresh key; the full merged table is emitted and
    hash-checked. Winner-per-key is ONE struct-max fold (a hot key's
    churn folds map-side), never a window."""
    from ..operators.resume import cdc_apply

    base = _t(spark, sf_dir, "documents")
    pay = ["text", "lang", "source", "n_chars"]

    def chg(filt, op, seq, text_expr, key_expr=None, n_chars_expr=None):
        d = base.filter(filt)
        return d.select(
            (key_expr if key_expr is not None else F.col("doc_id")).alias("doc_id"),
            F.lit(op).alias("op"),
            F.lit(seq).alias("seq"),
            text_expr.alias("text"),
            F.col("lang"),
            F.col("source"),
            (n_chars_expr if n_chars_expr is not None
             else F.col("n_chars")).alias("n_chars"),
        )

    u_old = chg(F.col("doc_id") % 10 == 0, "U", 1,
                F.concat(F.lit("stale "), F.col("doc_id").cast("string")))
    u_new = chg(F.col("doc_id") % 10 == 0, "U", 2,
                F.concat(F.lit("updated "), F.col("doc_id").cast("string")))
    dels = chg(F.col("doc_id") % 10 == 1, "D", 1, F.lit(""),
               n_chars_expr=F.lit(0).cast("long"))
    ins = chg(F.col("doc_id") % 100 == 0, "I", 1,
              F.concat(F.lit("new "), F.col("doc_id").cast("string")),
              key_expr=F.col("doc_id") + 1000000,
              n_chars_expr=F.lit(4).cast("long"))
    changelog = u_old.unionByName(u_new).unionByName(dels).unionByName(ins)
    merged = cdc_apply(base.select("doc_id", *pay), changelog, "doc_id", "seq")
    return merged.select("doc_id", "text", "lang", "source", "n_chars")


SQL_CDC_DOCS = """
WITH changelog AS (
  SELECT doc_id, 'U' AS op, 1 AS seq,
         'stale ' || CAST(doc_id AS VARCHAR) AS text, lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, 'U', 2, 'updated ' || CAST(doc_id AS VARCHAR),
         lang, source, n_chars
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id, 'D', 1, '', lang, source, CAST(0 AS BIGINT)
  FROM documents WHERE doc_id % 10 = 1
  UNION ALL
  SELECT doc_id + 1000000, 'I', 1, 'new ' || CAST(doc_id AS VARCHAR),
         lang, source, CAST(4 AS BIGINT)
  FROM documents WHERE doc_id % 100 = 0
),
win AS (
  SELECT doc_id,
         MAX(struct_pack(s := seq, o := op, p_text := text, p_lang := lang,
                         p_source := source, p_n := n_chars)) AS w
  FROM changelog GROUP BY doc_id
),
joined AS (
  SELECT coalesce(b.doc_id, w.doc_id) AS doc_id,
         b.text AS b_text, b.lang AS b_lang, b.source AS b_source,
         b.n_chars AS b_n, w.w AS w
  FROM documents b FULL OUTER JOIN win w ON b.doc_id = w.doc_id
)
SELECT doc_id,
       CASE WHEN w IS NOT NULL THEN w.p_text ELSE b_text END AS text,
       CASE WHEN w IS NOT NULL THEN w.p_lang ELSE b_lang END AS lang,
       CASE WHEN w IS NOT NULL THEN w.p_source ELSE b_source END AS source,
       CASE WHEN w IS NOT NULL THEN w.p_n ELSE b_n END AS n_chars
FROM joined
WHERE w IS NULL OR w.o <> 'D'
"""



# ------------------------------------------------------------ round-5 batch 48
# 1-D Wasserstein drift and per-doc novelty scoring.


def q_emd_length_drift(spark, sf_dir):
    """Pairwise 1-D Wasserstein distance between sources' doc-length
    distributions (operators/curation.py:emd_length_drift) — drift in
    VALUE UNITS (how far mass must move), the complement to KS's max
    deviation and KL's support sensitivity; exact integer CDF
    cross-multiplication, one terminal division per pair."""
    from ..operators.curation import emd_length_drift

    return emd_length_drift(_t(spark, sf_dir, "documents"))


SQL_EMD_LENGTH_DRIFT = """
WITH cells AS (
  SELECT source AS g, CAST(n_chars AS BIGINT) // 100 AS bkt, COUNT(*) AS c
  FROM documents GROUP BY 1, 2
),
span AS (SELECT MIN(bkt) AS b0, MAX(bkt) AS b1 FROM cells),
grid AS (
  SELECT gs.bkt, s.g
  FROM (SELECT unnest(generate_series(b0, b1)) AS bkt FROM span) gs
  CROSS JOIN (SELECT DISTINCT g FROM cells) s
),
filled AS (
  SELECT gr.g, gr.bkt, coalesce(c.c, 0) AS c
  FROM grid gr LEFT JOIN cells c ON gr.g = c.g AND gr.bkt = c.bkt
),
cum AS (
  SELECT g, bkt,
         SUM(c) OVER (PARTITION BY g ORDER BY bkt
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY g) AS n
  FROM filled
),
pairs AS (
  SELECT pa.g AS a, pb.g AS b, pa.na, pb.nb,
         abs(CAST(pa.cum AS DECIMAL(19,0)) * CAST(pb.nb AS DECIMAL(18,0))
             - CAST(pb.cum AS DECIMAL(19,0)) * CAST(pa.na AS DECIMAL(18,0)))
           AS term
  FROM (SELECT g, bkt, cum, n AS na FROM cum) pa
  JOIN (SELECT g, bkt, cum, n AS nb FROM cum) pb
  ON pa.bkt = pb.bkt AND pa.g < pb.g
),
agg AS (
  SELECT a, b, na, nb, SUM(CAST(term AS DECIMAL(38,0))) AS s
  FROM pairs GROUP BY 1, 2, 3, 4
)
SELECT a, b,
       round(CAST(s AS DOUBLE) * 100.0
             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS emd
FROM agg
"""


def q_doc_novelty(spark, sf_dir):
    """Top-10 most and least novel documents by unigram cross-entropy
    against the corpus model (operators/curation.py:doc_novelty) —
    high = surprising vocabulary, low = the corpus' most formulaic
    templates; rounded-term DECIMAL sums, rounded-value selection."""
    from ..operators.curation import doc_novelty

    return doc_novelty(_t(spark, sf_dir, "documents"))


SQL_DOC_NOVELTY = f"""
WITH tok AS (
  SELECT doc_id, unnest({_WORDS_WS_SQL}) AS term FROM documents
),
vocab AS (SELECT term, COUNT(*) AS tc FROM tok GROUP BY 1),
total AS (SELECT SUM(tc) AS tt FROM vocab),
p AS (
  SELECT term,
         CAST(round(-ln(CAST(tc AS DOUBLE) / CAST(tt AS DOUBLE)), 9)
              AS DECIMAL(20,9)) AS nl
  FROM vocab CROSS JOIN total
),
per_doc AS (
  SELECT t.doc_id, COUNT(*) AS n_tokens,
         round(CAST(SUM(p.nl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS cross_entropy
  FROM tok t JOIN p ON t.term = p.term
  GROUP BY 1
),
hi AS (
  SELECT doc_id, n_tokens, cross_entropy, 'most_novel' AS which_end
  FROM per_doc ORDER BY cross_entropy DESC, doc_id LIMIT 10
),
lo AS (
  SELECT doc_id, n_tokens, cross_entropy, 'least_novel' AS which_end
  FROM per_doc ORDER BY cross_entropy ASC, doc_id LIMIT 10
)
SELECT * FROM hi UNION ALL SELECT * FROM lo
"""



# ------------------------------------------------------------ round-5 batch 49
# Church-Gale term adaptation and bigram conditional entropy.


def q_term_adaptation(spark, sf_dir):
    """Church-Gale adaptation (P(again | once) = df2/df1) for the
    top-20 corpus terms (operators/textstats.py:term_adaptation) —
    content words adapt, glue words don't; all-integer counts, one
    division per term."""
    from ..operators.textstats import term_adaptation

    return term_adaptation(_t(spark, sf_dir, "documents"))


SQL_TERM_ADAPTATION = f"""
WITH dt AS (
  SELECT doc_id, term, COUNT(*) AS k FROM (
    SELECT doc_id, unnest({_WORDS_WS_SQL}) AS term FROM documents
  ) GROUP BY 1, 2
),
per_term AS (
  SELECT term, SUM(k) AS total_cnt, COUNT(*) AS df1,
         SUM(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS df2
  FROM dt GROUP BY 1
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY total_cnt DESC, term) AS rk
  FROM per_term
)
SELECT term, total_cnt, df1, df2,
       round(CAST(df2 AS DOUBLE) / CAST(df1 AS DOUBLE), 6) AS adaptation
FROM ranked WHERE rk <= 20
"""


def q_bigram_cond_entropy(spark, sf_dir):
    """Per-language conditional next-token entropy H(Y|X) =
    H(bigrams) − H(prefixes) (operators/textstats.py:
    bigram_conditional_entropy) — predictability: prose high, template
    spam toward 0; rounded-term DECIMAL sums on both entropies."""
    from ..operators.textstats import bigram_conditional_entropy

    return bigram_conditional_entropy(_t(spark, sf_dir, "documents"))


SQL_BIGRAM_COND_ENTROPY = f"""
WITH ws AS (SELECT lang AS g, {_WORDS_WS_SQL} AS w FROM documents),
bg AS (
  SELECT g, w[i] AS x, w[i + 1] AS y
  FROM ws, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
),
bc AS (SELECT g, x, y, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3),
tot AS (SELECT g, SUM(c) AS n FROM bc GROUP BY 1),
hxy AS (
  SELECT bc.g,
         SUM(CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                        * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 9)
             AS DECIMAL(20,9))) AS hxy
  FROM bc JOIN tot ON bc.g = tot.g GROUP BY 1
),
xc AS (SELECT g, x, SUM(c) AS c FROM bc GROUP BY 1, 2),
hx AS (
  SELECT xc.g,
         SUM(CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                        * ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)), 9)
             AS DECIMAL(20,9))) AS hx
  FROM xc JOIN tot ON xc.g = tot.g GROUP BY 1
)
SELECT hxy.g AS lang, tot.n AS n_bigrams,
       round(CAST(hxy.hxy AS DOUBLE) - CAST(hx.hx AS DOUBLE), 6)
         AS cond_entropy_nats
FROM hxy JOIN hx ON hxy.g = hx.g JOIN tot ON hxy.g = tot.g
"""



# ------------------------------------------------------------ round-5 batch 50
# Per-node local clustering.


def q_local_clustering(spark, sf_dir):
    """Top-20 most-clustered link-graph nodes
    (operators/graph.py:local_clustering) — the NODE-level link-farm
    fingerprint behind triangle_census' global count; degree-ordered
    orientation with three-corner attribution."""
    from ..operators.graph import local_clustering

    return local_clustering(_link_edges(spark, sf_dir))


SQL_LOCAL_CLUSTERING = f"""
WITH e0 AS ({_SQL_LINK_EDGES}),
e AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM e0 WHERE src <> dst
),
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY 1
),
o AS (
  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS a,
         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS b
  FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
),
tris AS (
  SELECT o1.a AS wa, o1.b AS wm, o2.b AS wc
  FROM o o1 JOIN o o2 ON o1.b = o2.a
  JOIN o o3 ON o3.a = o1.a AND o3.b = o2.b
),
per_node AS (
  SELECT node, COUNT(*) AS n_triangles FROM (
    SELECT wa AS node FROM tris
    UNION ALL SELECT wm FROM tris
    UNION ALL SELECT wc FROM tris
  ) GROUP BY 1
),
joined AS (
  SELECT d.node, d.deg, coalesce(p.n_triangles, 0) AS n_triangles
  FROM deg d LEFT JOIN per_node p ON d.node = p.node
  WHERE d.deg >= 2
),
scored AS (
  SELECT node, deg AS degree, n_triangles,
         round(2.0 * CAST(n_triangles AS DOUBLE)
               / (CAST(deg AS DOUBLE) * CAST(deg - 1 AS DOUBLE)), 9)
           AS clustering
  FROM joined
)
SELECT node, degree, n_triangles, clustering FROM (
  SELECT *, row_number() OVER (ORDER BY clustering DESC, node) AS rk
  FROM scored
) WHERE rk <= 20
"""


# ------------------------------------------------------------ round-5 batch 52
# Per-source exact-dup rate.


def q_dup_rate_by_source(spark, sf_dir):
    """Within-source exact-duplicate rate: per source (n_docs,
    n_unique_texts, dup_rate) — the corpus-health headline a dedup
    rollout leads with (which feeds are re-crawling themselves); one
    two-level fold (md5 inside source), exact integer ratio."""
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("_h")).agg(
        F.count("*").alias("_c")
    )
    return per.groupBy("source").agg(
        F.sum("_c").alias("n_docs"),
        F.count("*").alias("n_unique_texts"),
    ).withColumn(
        "dup_rate",
        F.round(
            (F.col("n_docs") - F.col("n_unique_texts")).cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ),
    )


SQL_DUP_RATE_BY_SOURCE = """
WITH per AS (
  SELECT source, md5(coalesce(text, '')) AS h, COUNT(*) AS c
  FROM documents GROUP BY 1, 2
)
SELECT source, SUM(c) AS n_docs, COUNT(*) AS n_unique_texts,
       round(CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
         AS dup_rate
FROM per GROUP BY 1
"""



# ------------------------------------------------------------ round-5 batch 53
# Power-law tail index and a Simpson's-paradox reversal probe.


def q_hill_tail(spark, sf_dir):
    """Hill power-law tail index over doc lengths (operators/
    textstats.py:hill_tail_index, k=200) — alpha decides whether
    max-length truncation is a rounding concern or a corpus-shaping
    decision; bounded top-(k+1) selection, rounded-decimal ln sums."""
    from ..operators.textstats import hill_tail_index

    return hill_tail_index(_t(spark, sf_dir, "documents"), k=200)


SQL_HILL_TAIL = """
WITH pos AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS v FROM documents WHERE n_chars > 0
),
top AS (SELECT doc_id, v FROM pos ORDER BY v DESC, doc_id LIMIT 201),
ref AS (SELECT MIN(v) AS xr FROM top),
kept AS (
  SELECT v, xr FROM (
    SELECT t.v, r.xr,
           row_number() OVER (ORDER BY t.v DESC, t.doc_id) AS rk
    FROM top t CROSS JOIN ref r
  ) WHERE rk <= 200
)
SELECT 200 AS k, MAX(xr) AS x_ref,
       round(200.0 / CAST(SUM(CAST(round(ln(CAST(v AS DOUBLE)
                                             / CAST(xr AS DOUBLE)), 9)
                            AS DECIMAL(20,9))) AS DOUBLE), 6) AS alpha
FROM kept
"""


def q_simpson_probe(spark, sf_dir):
    """Simpson's-paradox probe on the Gopher keep rate: source pairs
    whose OVERALL keep-rate ordering reverses inside language strata —
    the aggregation-reversal audit (an overall "A is cleaner than B"
    that flips within every language is a mix artifact, not a quality
    difference). ALL sign logic is exact integer cross-multiplication
    (k_a·n_b vs k_b·n_a) — no float anywhere; returns (a, b,
    overall_sign, n_langs_compared, n_reversed, full_reversal)."""
    from ..functions.heuristics import heuristic_columns

    d = _t(spark, sf_dir, "documents")
    h = heuristic_columns("text")
    keep = (
        (F.round(h["symbol_ratio"], 9) <= 0.1)
        & (h["n_words"].cast("long") >= 5)
        & (F.round(h["dup_line_frac"], 9) <= 0.3)
    )
    base = d.select("source", "lang", keep.alias("_k"))
    per_sl = base.groupBy("source", "lang").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("_k"), 1).otherwise(0)).alias("k"),
    )
    per_s = base.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("_k"), 1).otherwise(0)).alias("k"),
    )
    oa = per_s.select(F.col("source").alias("a"), F.col("n").alias("na"),
                      F.col("k").alias("ka"))
    ob = per_s.select(F.col("source").alias("b"), F.col("n").alias("nb"),
                      F.col("k").alias("kb"))
    cross = (
        F.col("ka").cast("decimal(19,0)") * F.col("nb").cast("decimal(18,0)")
        - F.col("kb").cast("decimal(19,0)") * F.col("na").cast("decimal(18,0)")
    )
    overall = oa.join(ob, F.col("a") < F.col("b")).select(
        "a", "b", F.signum(cross.cast("double")).cast("int").alias("o_sign")
    )
    la = per_sl.select(F.col("source").alias("a"), "lang",
                       F.col("n").alias("lna"), F.col("k").alias("lka"))
    lb = per_sl.select(F.col("source").alias("b"), "lang",
                       F.col("n").alias("lnb"), F.col("k").alias("lkb"))
    lcross = (
        F.col("lka").cast("decimal(19,0)") * F.col("lnb").cast("decimal(18,0)")
        - F.col("lkb").cast("decimal(19,0)") * F.col("lna").cast("decimal(18,0)")
    )
    per_lang = la.join(lb, ["lang"]).filter(F.col("a") < F.col("b")).select(
        "a", "b", "lang",
        F.signum(lcross.cast("double")).cast("int").alias("l_sign"),
    )
    j = overall.join(per_lang, ["a", "b"])
    return j.groupBy("a", "b", "o_sign").agg(
        F.count("*").alias("n_langs_compared"),
        F.sum(
            F.when(F.col("l_sign") * F.col("o_sign") < 0, 1).otherwise(0)
        ).alias("n_reversed"),
    ).withColumn(
        "full_reversal",
        (F.col("n_reversed") == F.col("n_langs_compared"))
        & (F.col("o_sign") != 0),
    ).select("a", "b", F.col("o_sign").alias("overall_sign"),
             "n_langs_compared", "n_reversed", "full_reversal")


SQL_SIMPSON_PROBE = f"""
WITH base AS (
  SELECT source, lang, coalesce(text, '') AS t, {_WORDS_WS_SQL} AS ws
  FROM documents
),
ln_t AS (
  SELECT source, lang, t, ws,
         list_filter(regexp_split_to_array(t, '{_WS_CLASS_SQL}*\n{_WS_CLASS_SQL}*'),
                     x -> x <> '') AS lines
  FROM base
),
g AS (
  SELECT source, lang,
         CASE WHEN (CASE WHEN len(ws) = 0 THEN 0.0
                    ELSE CAST(length(t) - length(translate(t, {_SYM_TRANSLATE_SQL}, ''))
                              AS DOUBLE) / len(ws) END) <= 0.1
               AND len(ws) >= 5
               AND (CASE WHEN len(lines) <= 1 THEN 0.0
                    ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                         / len(lines) END) <= 0.3
              THEN 1 ELSE 0 END AS kp
  FROM ln_t
),
per_sl AS (
  SELECT source, lang, COUNT(*) AS n, SUM(kp) AS k FROM g GROUP BY 1, 2
),
per_s AS (SELECT source, COUNT(*) AS n, SUM(kp) AS k FROM g GROUP BY 1),
overall AS (
  SELECT pa.source AS a, pb.source AS b,
         CAST(sign(CAST(CAST(pa.k AS DECIMAL(19,0)) * CAST(pb.n AS DECIMAL(18,0))
                   - CAST(pb.k AS DECIMAL(19,0)) * CAST(pa.n AS DECIMAL(18,0))
                   AS DOUBLE)) AS INT) AS o_sign
  FROM per_s pa JOIN per_s pb ON pa.source < pb.source
),
per_lang AS (
  SELECT la.source AS a, lb.source AS b, la.lang,
         CAST(sign(CAST(CAST(la.k AS DECIMAL(19,0)) * CAST(lb.n AS DECIMAL(18,0))
                   - CAST(lb.k AS DECIMAL(19,0)) * CAST(la.n AS DECIMAL(18,0))
                   AS DOUBLE)) AS INT) AS l_sign
  FROM per_sl la JOIN per_sl lb
  ON la.lang = lb.lang AND la.source < lb.source
)
SELECT o.a, o.b, o.o_sign AS overall_sign,
       COUNT(*) AS n_langs_compared,
       SUM(CASE WHEN p.l_sign * o.o_sign < 0 THEN 1 ELSE 0 END) AS n_reversed,
       SUM(CASE WHEN p.l_sign * o.o_sign < 0 THEN 1 ELSE 0 END) = COUNT(*)
         AND o.o_sign <> 0 AS full_reversal
FROM overall o JOIN per_lang p ON o.a = p.a AND o.b = p.b
GROUP BY 1, 2, 3
"""



# ------------------------------------------------------------ round-5 batch 54
# Recency-decayed trending terms and the vocabulary growth curve.


def q_trending_terms(spark, sf_dir):
    """Top-10 TRENDING terms by exponentially decayed daily counts
    (lambda = 0.8 per day of age) next to the raw count rank — the
    recency-weighted heavy-hitter ranking ("what is rising NOW") that
    a plain frequency table hides. Documents get deterministic
    synthetic days (doc_id mod 28 — the same fixture discipline as
    scd2/url queries) since the table has no timestamp column; on real
    crawl data the crawl day replaces it.

    Determinism: decayed weight per (term, age) is count x lambda^age
    with an INTEGER exponent (pow on integer exponents is correctly
    rounded and engine-identical), rounded 9 dp and DECIMAL-summed;
    selection orders by the rounded score with a term tie-break."""
    from ..functions.tokenize import WS_PLUS

    d = _t(spark, sf_dir, "documents")
    day = (F.col("doc_id") % 28).alias("day")          # 0 = oldest
    age = (F.lit(27) - (F.col("doc_id") % 28)).alias("age")
    words = F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda w: F.length(w) > 0)
    ex = d.select(age, F.explode(words).alias("term"))
    per = ex.groupBy("term", "age").agg(F.count("*").alias("c"))
    wgt = F.round(
        F.col("c").cast("double") * F.pow(F.lit(0.8), F.col("age")), 9
    ).cast("decimal(24,9)")
    scored = per.groupBy("term").agg(
        F.sum("c").alias("raw_cnt"),
        F.sum(wgt).alias("_dec"),
    ).select(
        "term", "raw_cnt",
        F.round(F.col("_dec").cast("double"), 6).alias("decayed_score"),
    )
    w = Window.orderBy(F.desc("decayed_score"), F.asc("term"))
    return scored.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") <= 10
    ).select("term", "raw_cnt", "decayed_score")


SQL_TRENDING_TERMS = f"""
WITH ex AS (
  SELECT 27 - (doc_id % 28) AS age, unnest({_WORDS_WS_SQL}) AS term
  FROM documents
),
per AS (SELECT term, age, COUNT(*) AS c FROM ex GROUP BY 1, 2),
scored AS (
  SELECT term, SUM(c) AS raw_cnt,
         round(CAST(SUM(CAST(round(CAST(c AS DOUBLE) * power(0.8, age), 9)
                        AS DECIMAL(24,9))) AS DOUBLE), 6) AS decayed_score
  FROM per GROUP BY 1
)
SELECT term, raw_cnt, decayed_score FROM (
  SELECT *, row_number() OVER (ORDER BY decayed_score DESC, term) AS rk
  FROM scored
) WHERE rk <= 10
"""


def q_vocab_growth(spark, sf_dir):
    """Vocabulary GROWTH curve over synthetic crawl days (doc_id mod
    28, the trending_terms fixture): per day, terms whose FIRST corpus
    occurrence falls on that day plus the cumulative vocabulary — the
    Heaps-law-over-time read ("is this feed still teaching the
    tokenizer new words, or saturated?"). First occurrence is a min()
    fold (map-side combinable), the cumulative ride is a window over
    the bounded day axis.

    On THIS synthetic corpus the curve collapses to ~2 rows: the
    template vocabulary is fully shared, so day 0 captures nearly all
    first occurrences — which is precisely the "saturated feed"
    verdict the query exists to deliver (a healthy crawl shows a long
    Heaps tail instead)."""
    from ..functions.tokenize import WS_PLUS

    d = _t(spark, sf_dir, "documents")
    day = (F.col("doc_id") % 28).alias("day")
    words = F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda w: F.length(w) > 0)
    ex = d.select(day, F.explode(words).alias("term"))
    firsts = ex.groupBy("term").agg(F.min("day").alias("first_day"))
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new_terms")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day", "n_new_terms",
        F.sum("n_new_terms").over(w).alias("cum_vocab"),
    )


SQL_VOCAB_GROWTH = f"""
WITH ex AS (
  SELECT doc_id % 28 AS day, unnest({_WORDS_WS_SQL}) AS term FROM documents
),
firsts AS (SELECT term, MIN(day) AS first_day FROM ex GROUP BY 1),
per_day AS (
  SELECT first_day AS day, COUNT(*) AS n_new_terms FROM firsts GROUP BY 1
)
SELECT day, n_new_terms,
       SUM(n_new_terms) OVER (ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS cum_vocab
FROM per_day
"""



# ------------------------------------------------------------ round-5 batch 55
# Mix-vs-rate decomposition and SCD2 page-churn census.


def q_mix_rate_decomposition(spark, sf_dir):
    """Mix-vs-rate decomposition of the Gopher keep-rate gap between
    even and odd doc-id halves, decomposed over language strata
    (the Oaxaca/Kitagawa decomposition analytics teams reach for when
    "the metric moved" — did per-stratum RATES change, or did the MIX
    shift toward worse strata?):
    overall_gap = Σ_l share_A(l)·(rate_A(l) − rate_B(l))   [rate effect]
               + Σ_l (share_A(l) − share_B(l))·rate_B(l)   [mix effect]
    — an exact identity, so the emitted residual MUST be 0 up to the
    terminal rounding (self-checking output). Every share/rate is an
    exact-integer ratio; each stratum term is ONE fixed IEEE sequence
    rounded 9 dp and DECIMAL-summed."""
    from ..functions.heuristics import heuristic_columns

    d = _t(spark, sf_dir, "documents")
    h = heuristic_columns("text")
    keep = (
        (F.round(h["symbol_ratio"], 9) <= 0.1)
        & (h["n_words"].cast("long") >= 5)
        & (F.round(h["dup_line_frac"], 9) <= 0.3)
    )
    base = d.select(
        "lang",
        (F.col("doc_id") % 2 == 0).alias("_A"),
        keep.alias("_k"),
    )
    cell = base.groupBy("lang").agg(
        F.sum(F.when(F.col("_A"), 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("_A") & F.col("_k"), 1).otherwise(0)).alias("ka"),
        F.sum(F.when(~F.col("_A"), 1).otherwise(0)).alias("nb"),
        F.sum(F.when(~F.col("_A") & F.col("_k"), 1).otherwise(0)).alias("kb"),
    )
    tot = cell.agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb"),
        F.sum("ka").alias("kta"), F.sum("kb").alias("ktb"),
    )
    j = cell.crossJoin(F.broadcast(tot))
    sha = F.col("na").cast("double") / F.col("ta").cast("double")
    shb = F.col("nb").cast("double") / F.col("tb").cast("double")
    ra = F.col("ka").cast("double") / F.col("na").cast("double")
    rb = F.col("kb").cast("double") / F.col("nb").cast("double")
    rate_term = F.round(sha * (ra - rb), 9).cast("decimal(20,9)")
    mix_term = F.round((sha - shb) * rb, 9).cast("decimal(20,9)")
    agg = j.agg(
        F.sum(rate_term).alias("_re"),
        F.sum(mix_term).alias("_me"),
        F.max(
            F.col("kta").cast("double") / F.col("ta").cast("double")
            - F.col("ktb").cast("double") / F.col("tb").cast("double")
        ).alias("_gap"),
    )
    return agg.select(
        F.round(F.col("_gap"), 6).alias("overall_gap"),
        F.round(F.col("_re").cast("double"), 6).alias("rate_effect"),
        F.round(F.col("_me").cast("double"), 6).alias("mix_effect"),
        F.round(
            F.col("_gap")
            - (F.col("_re").cast("double") + F.col("_me").cast("double")),
            6,
        ).alias("residual"),
    )


SQL_MIX_RATE_DECOMPOSITION = f"""
WITH base AS (
  SELECT lang, doc_id % 2 = 0 AS a_side, coalesce(text, '') AS t,
         {_WORDS_WS_SQL} AS ws
  FROM documents
),
ln_t AS (
  SELECT lang, a_side, t, ws,
         list_filter(regexp_split_to_array(t, '{_WS_CLASS_SQL}*\n{_WS_CLASS_SQL}*'),
                     x -> x <> '') AS lines
  FROM base
),
g AS (
  SELECT lang, a_side,
         CASE WHEN (CASE WHEN len(ws) = 0 THEN 0.0
                    ELSE CAST(length(t) - length(translate(t, {_SYM_TRANSLATE_SQL}, ''))
                              AS DOUBLE) / len(ws) END) <= 0.1
               AND len(ws) >= 5
               AND (CASE WHEN len(lines) <= 1 THEN 0.0
                    ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                         / len(lines) END) <= 0.3
              THEN 1 ELSE 0 END AS kp
  FROM ln_t
),
cell AS (
  SELECT lang,
         SUM(CASE WHEN a_side THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN a_side THEN kp ELSE 0 END) AS ka,
         SUM(CASE WHEN a_side THEN 0 ELSE 1 END) AS nb,
         SUM(CASE WHEN a_side THEN 0 ELSE kp END) AS kb
  FROM g GROUP BY 1
),
tot AS (
  SELECT SUM(na) AS ta, SUM(nb) AS tb, SUM(ka) AS kta, SUM(kb) AS ktb
  FROM cell
),
terms AS (
  SELECT
    CAST(round((CAST(na AS DOUBLE) / CAST(ta AS DOUBLE))
               * (CAST(ka AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE)), 9)
         AS DECIMAL(20,9)) AS rt,
    CAST(round((CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
                - CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
               * (CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE)), 9)
         AS DECIMAL(20,9)) AS mt,
    CAST(kta AS DOUBLE) / CAST(ta AS DOUBLE)
      - CAST(ktb AS DOUBLE) / CAST(tb AS DOUBLE) AS gap
  FROM cell CROSS JOIN tot
)
SELECT round(MAX(gap), 6) AS overall_gap,
       round(CAST(SUM(rt) AS DOUBLE), 6) AS rate_effect,
       round(CAST(SUM(mt) AS DOUBLE), 6) AS mix_effect,
       round(MAX(gap) - (CAST(SUM(rt) AS DOUBLE) + CAST(SUM(mt) AS DOUBLE)), 6)
         AS residual
FROM terms
"""


def q_page_churn_census(spark, sf_dir):
    """SCD2 page-churn census: how many pages carry 1, 2, 3, ... content
    versions over their crawl history (the scd2_pages interval table
    folded to the version-count histogram) — the recrawl-budget signal:
    a feed where most pages hold one version forever is over-crawled."""
    from ..operators.curation import scd2_intervals

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(F.lit("p"), (F.col("doc_id") % 50).cast("string"))
    ts = F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 37)
    ver = F.expr("(doc_id DIV 150) % 3").cast("string")
    crawls = docs.select(
        page.alias("page"), ts.alias("crawl_ts"),
        F.md5(F.concat(page, F.lit(":"), ver)).alias("content_hash"),
    )
    iv = scd2_intervals(crawls, "page", "crawl_ts", "content_hash")
    per_page = iv.groupBy("page").agg(F.count("*").alias("n_versions"))
    return per_page.groupBy("n_versions").agg(F.count("*").alias("n_pages"))


SQL_PAGE_CHURN_CENSUS = """
WITH crawls AS (
  SELECT 'p' || CAST(doc_id % 50 AS VARCHAR) AS page,
         to_timestamp(1700000000 + doc_id * 37) AS crawl_ts,
         md5('p' || CAST(doc_id % 50 AS VARCHAR) || ':'
             || CAST((doc_id // 150) % 3 AS VARCHAR)) AS content_hash
  FROM documents
),
flagged AS (
  SELECT page, content_hash,
         lag(content_hash) OVER (PARTITION BY page
                                 ORDER BY crawl_ts, content_hash) AS prev
  FROM crawls
),
chg AS (
  SELECT page FROM flagged WHERE prev IS NULL OR prev <> content_hash
),
per_page AS (SELECT page, COUNT(*) AS n_versions FROM chg GROUP BY 1)
SELECT n_versions, COUNT(*) AS n_pages FROM per_page GROUP BY 1
"""



# ------------------------------------------------------------ round-5 batch 57
# Discriminative keep/drop vocabulary.


def q_keep_discriminative_terms(spark, sf_dir):
    """Discriminative keep/drop vocabulary: the 10 terms most
    associated with KEPT docs and the 10 most associated with DROPPED
    docs under the Gopher rule, by smoothed log-odds ratio
    ln((k_t+1)/(K+V) ÷ (d_t+1)/(D+V)) — "what vocabulary predicts the
    filter's decision", the feature-importance readout a filter
    rollout publishes next to its keep rate. Counts exact integers;
    one fixed IEEE sequence per term rounded 6 dp; selection by the
    rounded score with term tie-break."""
    from ..functions.heuristics import heuristic_columns
    from ..functions.tokenize import WS_PLUS

    d = _t(spark, sf_dir, "documents")
    h = heuristic_columns("text")
    keep = (
        (F.round(h["symbol_ratio"], 9) <= 0.1)
        & (h["n_words"].cast("long") >= 5)
        & (F.round(h["dup_line_frac"], 9) <= 0.3)
    )
    words = F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda x: F.length(x) > 0)
    ex = d.select(keep.alias("_k"), F.explode(words).alias("term"))
    per = ex.groupBy("term").agg(
        F.sum(F.when(F.col("_k"), 1).otherwise(0)).alias("kt"),
        F.sum(F.when(~F.col("_k"), 1).otherwise(0)).alias("dt"),
    )
    tot = per.agg(
        F.sum("kt").alias("K"), F.sum("dt").alias("D"),
        F.count("*").alias("V"),
    )
    j = per.crossJoin(F.broadcast(tot))
    score = F.round(
        F.log(
            ((F.col("kt") + 1).cast("double")
             / (F.col("K") + F.col("V")).cast("double"))
            / ((F.col("dt") + 1).cast("double")
               / (F.col("D") + F.col("V")).cast("double"))
        ),
        6,
    )
    scored = j.select("term", "kt", "dt", score.alias("log_odds"))
    wk = Window.orderBy(F.desc("log_odds"), F.asc("term"))
    wd = Window.orderBy(F.asc("log_odds"), F.asc("term"))
    top_k = scored.withColumn("_rk", F.row_number().over(wk)).filter(
        F.col("_rk") <= 10
    ).withColumn("which_end", F.lit("keep_associated")).drop("_rk")
    top_d = scored.withColumn("_rk", F.row_number().over(wd)).filter(
        F.col("_rk") <= 10
    ).withColumn("which_end", F.lit("drop_associated")).drop("_rk")
    return top_k.unionByName(top_d)


SQL_KEEP_DISCRIMINATIVE_TERMS = f"""
WITH base AS (
  SELECT coalesce(text, '') AS t, {_WORDS_WS_SQL} AS ws FROM documents
),
ln_t AS (
  SELECT t, ws,
         list_filter(regexp_split_to_array(t, '{_WS_CLASS_SQL}*\n{_WS_CLASS_SQL}*'),
                     x -> x <> '') AS lines
  FROM base
),
g AS (
  SELECT ws,
         (CASE WHEN len(ws) = 0 THEN 0.0
               ELSE CAST(length(t) - length(translate(t, {_SYM_TRANSLATE_SQL}, ''))
                         AS DOUBLE) / len(ws) END) <= 0.1
         AND len(ws) >= 5
         AND (CASE WHEN len(lines) <= 1 THEN 0.0
              ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                   / len(lines) END) <= 0.3 AS kp
  FROM ln_t
),
ex AS (SELECT kp, unnest(ws) AS term FROM g),
per AS (
  SELECT term,
         SUM(CASE WHEN kp THEN 1 ELSE 0 END) AS kt,
         SUM(CASE WHEN kp THEN 0 ELSE 1 END) AS dt
  FROM ex GROUP BY 1
),
tot AS (SELECT SUM(kt) AS kk, SUM(dt) AS dd, COUNT(*) AS vv FROM per),
scored AS (
  SELECT term, kt, dt,
         round(ln((CAST(kt + 1 AS DOUBLE) / CAST(kk + vv AS DOUBLE))
                  / (CAST(dt + 1 AS DOUBLE) / CAST(dd + vv AS DOUBLE))), 6)
           AS log_odds
  FROM per CROSS JOIN tot
),
top_k AS (
  SELECT term, kt, dt, log_odds, 'keep_associated' AS which_end
  FROM scored ORDER BY log_odds DESC, term LIMIT 10
),
top_d AS (
  SELECT term, kt, dt, log_odds, 'drop_associated' AS which_end
  FROM scored ORDER BY log_odds ASC, term LIMIT 10
)
SELECT * FROM top_k UNION ALL SELECT * FROM top_d
"""


def q_theta_vocab_by_source(spark, sf_dir):
    """Per-source vocabulary size by fixed-threshold THETA sampling
    (operators/sketches.py:theta_distinct_by) — the coordinated-sample
    distinct sketch: one map-side filter keeps the terms hashing below
    2^32/64, every source's estimate reads off the same sample, and the
    exchange carries ~1/64 of the vocabulary. The exact count rides
    alongside as the audit column with the signed relative error
    surfaced, not asserted."""
    from ..functions.tokenize import WS_PLUS
    from ..operators.sketches import theta_distinct_by

    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda x: F.length(x) > 0)
    ex = d.select("source", F.explode(words).alias("term"))
    return theta_distinct_by(ex, "term", "source")


SQL_THETA_VOCAB_BY_SOURCE = f"""
WITH ex AS (
  SELECT source, unnest({_WORDS_WS_SQL}) AS v FROM documents
),
h AS (
  SELECT source AS g,
         CAST('0x' || substr(md5('th:' || v), 1, 8) AS BIGINT) AS h, v
  FROM ex
),
samp AS (
  SELECT g, COUNT(*) AS n_sampled
  FROM (SELECT DISTINCT g, h FROM h WHERE h < 67108864)
  GROUP BY g
),
exact AS (
  SELECT g, COUNT(DISTINCT v) AS exact_distinct FROM h GROUP BY g
)
SELECT exact.g AS source,
       coalesce(n_sampled, 0) AS n_sampled,
       CAST(coalesce(n_sampled, 0) * 64 AS BIGINT) AS theta_estimate,
       exact_distinct,
       round((CAST(coalesce(n_sampled, 0) * 64 AS DOUBLE)
              - CAST(exact_distinct AS DOUBLE))
             / CAST(exact_distinct AS DOUBLE), 6) AS rel_error
FROM exact LEFT JOIN samp ON exact.g = samp.g
"""


def q_theta_vocab_overlap(spark, sf_dir):
    """Vocabulary overlap between the even- and odd-doc_id halves of the
    corpus by intersecting two coordinated theta samples
    (operators/sketches.py:theta_set_overlap) — the set-algebra query
    HLL answers only by inclusion-exclusion: because both
    halves keep exactly the terms hashing below the SAME threshold,
    sample(A) ∩ sample(B) IS sample(A∩B) — a set identity — so the
    intersection error scales with the overlap itself, not with the
    union. Two map-side filters + hash-grain distincts; the semi-join
    touches ~1/64 of the vocabulary."""
    from ..functions.tokenize import WS_PLUS
    from ..operators.sketches import theta_set_overlap

    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda x: F.length(x) > 0)
    ex = d.select("doc_id", F.explode(words).alias("term"))
    a = ex.filter(F.col("doc_id") % 2 == 0)
    b = ex.filter(F.col("doc_id") % 2 == 1)
    return theta_set_overlap(a, b, "term")


SQL_THETA_VOCAB_OVERLAP = f"""
WITH ex AS (
  SELECT doc_id, unnest({_WORDS_WS_SQL}) AS v FROM documents
),
sa AS (
  SELECT DISTINCT CAST('0x' || substr(md5('th:' || v), 1, 8) AS BIGINT) AS h
  FROM ex WHERE doc_id % 2 = 0
    AND CAST('0x' || substr(md5('th:' || v), 1, 8) AS BIGINT) < 67108864
),
sb AS (
  SELECT DISTINCT CAST('0x' || substr(md5('th:' || v), 1, 8) AS BIGINT) AS h
  FROM ex WHERE doc_id % 2 = 1
    AND CAST('0x' || substr(md5('th:' || v), 1, 8) AS BIGINT) < 67108864
),
na AS (SELECT COUNT(*) AS na FROM sa),
nb AS (SELECT COUNT(*) AS nb FROM sb),
ni AS (SELECT COUNT(*) AS ni FROM sa WHERE h IN (SELECT h FROM sb)),
exact AS (
  SELECT COUNT(*) AS exact_intersect FROM (
    SELECT DISTINCT v FROM ex WHERE doc_id % 2 = 0
    INTERSECT
    SELECT DISTINCT v FROM ex WHERE doc_id % 2 = 1
  )
)
SELECT CAST(na * 64 AS BIGINT) AS est_a,
       CAST(nb * 64 AS BIGINT) AS est_b,
       CAST((na + nb - ni) * 64 AS BIGINT) AS est_union,
       CAST(ni * 64 AS BIGINT) AS est_intersect,
       CAST((na - ni) * 64 AS BIGINT) AS est_a_only,
       exact_intersect,
       round(CAST(ni * 64 - exact_intersect AS DOUBLE)
             / CAST(greatest(exact_intersect, 1) AS DOUBLE), 6)
         AS rel_error_intersect
FROM na, nb, ni, exact
"""


def q_label_prop_communities(spark, sf_dir):
    """3-round synchronous label propagation over the synthesized link
    graph (operators/graph.py:label_propagation) — the linear-time
    community detector that groups mirror rings / template families
    where connected components is too coarse. Deterministic by
    construction: synchronous rounds, integer vote counts, ties to the
    smallest label — so the unrolled-CTE twin matches exactly; per
    round ONE dst-keyed join and two map-side-combinable aggregates
    (never a per-node window, which would sort a mega-hub's votes in
    one task)."""
    from ..operators.graph import label_propagation

    return label_propagation(_link_edges(spark, sf_dir), n_rounds=3)


def _sql_label_prop() -> str:
    rnd = """
SELECT v.node, MIN(v.label) AS label
FROM (SELECT ue.u AS node, l.label, COUNT(*) AS c
      FROM ue JOIN {L} l ON ue.v = l.node GROUP BY 1, 2) v
JOIN (SELECT node, MAX(c) AS mc
      FROM (SELECT ue.u AS node, l.label, COUNT(*) AS c
            FROM ue JOIN {L} l ON ue.v = l.node GROUP BY 1, 2)
      GROUP BY node) m
ON v.node = m.node AND v.c = m.mc
GROUP BY v.node
"""
    return f"""
WITH e0 AS ({_SQL_LINK_EDGES}),
ue AS (
  SELECT DISTINCT u, v FROM (
    SELECT src AS u, dst AS v FROM e0
    UNION ALL SELECT dst, src FROM e0
  )
),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM ue),
l1 AS ({rnd.format(L='l0')}),
l2 AS ({rnd.format(L='l1')}),
l3 AS ({rnd.format(L='l2')})
SELECT node, label FROM l3
"""


def q_cocitation_pairs(spark, sf_dir):
    """Co-citation similarity over the link graph
    (operators/graph.py:cocitation_pairs): dst pairs cited by >= 2
    common sources with the citer-set Jaccard — the content-free
    "related pages" signal that groups mirrors ACROSS hosts. The
    src-keyed self-join has the same quadratic-bucket geometry as an
    LSH band bucket (out_degree² per src), with the same documented
    mitigation at scale."""
    from ..operators.graph import cocitation_pairs

    return cocitation_pairs(_link_edges(spark, sf_dir), min_shared=2)


SQL_COCITATION_PAIRS = f"""
WITH e AS (SELECT DISTINCT src, dst FROM ({_SQL_LINK_EDGES})),
shared AS (
  SELECT l.dst AS a, r.dst AS b, COUNT(*) AS n_shared_citers
  FROM e l JOIN e r ON l.src = r.src AND l.dst < r.dst
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
ind AS (SELECT dst, COUNT(*) AS ind FROM e GROUP BY dst)
SELECT a, b, n_shared_citers,
       round(CAST(n_shared_citers AS DOUBLE)
             / CAST(ia.ind + ib.ind - n_shared_citers AS DOUBLE), 6)
         AS cocite_jaccard
FROM shared JOIN ind ia ON shared.a = ia.dst
            JOIN ind ib ON shared.b = ib.dst
"""


def q_cdc_chunk_census(spark, sf_dir):
    """Chunk-grain boilerplate census over CONTENT-DEFINED chunks
    (operators/dedup.py:cdc_chunk_census): how much of each document is
    chunk-identical to the rest of the corpus, with boundaries chosen
    by token-hash (Rabin/FastCDC rule, expected 16-token chunks) so the
    measure survives small head edits that would shift every fixed-span
    boundary. Chunks are built map-side in O(tokens) pure exprs; the
    census is one md5-keyed map-side-combinable aggregate."""
    from ..operators.dedup import cdc_chunk_census

    return cdc_chunk_census(_t(spark, sf_dir, "documents"))


SQL_CDC_CHUNK_CENSUS = f"""
WITH base AS (
  SELECT doc_id, {_WORDS_WS_SQL} AS ws FROM documents
),
geom AS (
  SELECT doc_id, ws,
         list_filter(
           list_transform(ws, (w, i) ->
             CASE WHEN CAST('0x' || substr(md5('cdc:' || w), 1, 8) AS BIGINT)
                       % 16 = 0 THEN i ELSE -1 END),
           p -> p > 0) AS bpos
  FROM base
),
ranges AS (
  SELECT doc_id, ws,
         list_prepend(1, list_transform(bpos, p -> p + 1)) AS starts,
         list_append(bpos, len(ws)) AS ends
  FROM geom
),
chunks AS (
  SELECT doc_id,
         list_filter(
           list_transform(starts, (s, k) ->
             CASE WHEN s <= ends[k]
                  THEN array_to_string(ws[s:ends[k]], ' ') END),
           c -> c IS NOT NULL) AS cs
  FROM ranges
),
ch AS (SELECT doc_id, md5(unnest(cs)) AS h FROM chunks),
census AS (
  SELECT h, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
  FROM ch GROUP BY h
),
flagged AS (
  SELECT ch.doc_id, COUNT(*) AS n_chunks,
         SUM(CASE WHEN n_docs > 1 OR n_occ > 1 THEN 1 ELSE 0 END)
           AS n_dup_chunks
  FROM ch JOIN census USING (h)
  GROUP BY ch.doc_id
)
SELECT d.doc_id,
       coalesce(n_chunks, 0) AS n_chunks,
       coalesce(n_dup_chunks, 0) AS n_dup_chunks,
       round(CAST(coalesce(n_dup_chunks, 0) AS DOUBLE)
             / CAST(greatest(coalesce(n_chunks, 0), 1) AS DOUBLE), 6)
         AS dup_frac
FROM documents d LEFT JOIN flagged ON d.doc_id = flagged.doc_id
"""


def q_linear_probe_train(spark, sf_dir):
    """Closed-form ridge training of a linear quality probe
    (operators/score.py:linear_probe_train) — the deterministic core of
    the "train a filter on labels" step (CCNet/fastText-style): the 3×3
    normal equations are assembled from ONE map-side-combinable
    DECIMAL(38,0) aggregate of integer feature products and solved by
    exact integer Cramer determinants; training accuracy is an
    all-integer margin comparison (2·(d₀+d₁x₁+d₂x₂) ≥ det A), so the
    only float ops are three terminal weight divisions."""
    from ..operators.score import linear_probe_train

    return linear_probe_train(_t(spark, sf_dir, "documents"))


SQL_LINEAR_PROBE_TRAIN = f"""
WITH base AS (
  SELECT coalesce(text, '') AS t, {_WORDS_WS_SQL} AS ws,
         list_filter(regexp_split_to_array(coalesce(text, ''),
                     '{_WS_CLASS_SQL}*\n{_WS_CLASS_SQL}*'), x -> x <> '')
           AS lines
  FROM documents
),
feat AS (
  SELECT CAST(len(ws) AS HUGEINT) AS x1,
         CAST(length(t) - length(translate(t, {_SYM_TRANSLATE_SQL}, ''))
              AS HUGEINT) AS x2,
         CAST(CASE WHEN len(ws) >= 5
                    AND 10 * (length(t) - length(translate(t, {_SYM_TRANSLATE_SQL}, '')))
                        <= len(ws)
                    AND (len(lines) <= 1
                         OR 10 * (len(lines) - len(list_distinct(lines)))
                            <= 3 * len(lines))
               THEN 1 ELSE 0 END AS HUGEINT) AS y
  FROM base
),
sums AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x1) AS s1, SUM(x2) AS s2,
         SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12, SUM(x2 * x2) AS s22,
         SUM(y) AS sy, SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
  FROM feat
),
dets AS (
  SELECT CAST(n AS BIGINT) AS n_docs, CAST(sy AS BIGINT) AS n_keep,
         (n + 1) * ((s11 + 1) * (s22 + 1) - s12 * s12)
           - s1 * (s1 * (s22 + 1) - s12 * s2)
           + s2 * (s1 * s12 - (s11 + 1) * s2) AS dA,
         sy * ((s11 + 1) * (s22 + 1) - s12 * s12)
           - s1 * (s1y * (s22 + 1) - s12 * s2y)
           + s2 * (s1y * s12 - (s11 + 1) * s2y) AS d0,
         (n + 1) * (s1y * (s22 + 1) - s12 * s2y)
           - sy * (s1 * (s22 + 1) - s12 * s2)
           + s2 * (s1 * s2y - s1y * s2) AS d1,
         (n + 1) * ((s11 + 1) * s2y - s1y * s12)
           - s1 * (s1 * s2y - s1y * s2)
           + sy * (s1 * s12 - (s11 + 1) * s2) AS d2
  FROM sums
),
correct AS (
  SELECT SUM(CASE WHEN (CASE WHEN 2 * (d0 + d1 * x1 + d2 * x2) >= dA
                              THEN 1 ELSE 0 END) = y
              THEN 1 ELSE 0 END) AS n_correct
  FROM feat CROSS JOIN dets
)
SELECT n_docs, n_keep,
       round(CAST(d0 AS DOUBLE) / CAST(dA AS DOUBLE), 6) AS w0,
       round(CAST(d1 AS DOUBLE) / CAST(dA AS DOUBLE), 6) AS w1,
       round(CAST(d2 AS DOUBLE) / CAST(dA AS DOUBLE), 6) AS w2,
       n_correct,
       round(CAST(n_correct AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS accuracy
FROM dets CROSS JOIN correct
"""


def q_trustrank_links(spark, sf_dir):
    """3-iteration TrustRank over the synthesized link graph with seeds
    = nodes divisible by 50 (operators/graph.py:trustrank) — teleport
    mass restricted to the trusted set, so pages reachable only from
    spam neighborhoods score ~0 where uniform-teleport PageRank still
    pays its (1−d)/N floor; rank-high + trust-low is the link-farm
    flag. Same 1e12 integer fixed-point discipline as link_pagerank —
    bit-identical vs the unrolled-CTE twin."""
    from ..operators.graph import trustrank

    e = _link_edges(spark, sf_dir)
    nodes = e.select(F.col("src").alias("node")).unionByName(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    seeds = nodes.filter(F.col("node") % 50 == 0)
    return trustrank(e, seeds, n_iter=3)


def _sql_trustrank() -> str:
    s = 10 ** 12
    it = f"""
SELECT sd.node, sd.is_seed,
  (CASE WHEN sd.is_seed = 1
        THEN ({3 * s} * 2 + st.s * 20) // (st.s * 20 * 2) ELSE 0 END)
  + ((coalesce(rc.received, 0) * 17 * 2 + 20) // 40) AS fp
FROM sd CROSS JOIN st
LEFT JOIN (
  SELECT e.dst AS node, SUM((r.fp * 2 + d.deg) // (d.deg * 2)) AS received
  FROM e JOIN {{R}} r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst) rc
ON sd.node = rc.node
"""
    return f"""
WITH e AS ({_SQL_LINK_EDGES}),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
sd AS (SELECT node, CASE WHEN node % 50 = 0 THEN 1 ELSE 0 END AS is_seed
       FROM nodes),
st AS (SELECT SUM(is_seed) AS s FROM sd),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT sd.node, sd.is_seed,
              CASE WHEN is_seed = 1 THEN ({s} * 2 + st.s) // (st.s * 2)
                   ELSE 0 END AS fp
       FROM sd CROSS JOIN st),
r1 AS ({it.format(R='r0')}),
r2 AS ({it.format(R='r1')}),
r3 AS ({it.format(R='r2')})
SELECT node, CAST(fp AS DOUBLE) / 1e12 AS trust FROM r3
"""


def q_dedup_cc_best(spark, sf_dir):
    """Quality-aware transitive near-dup dedup
    (operators/dedup.py:cc_dedup_best): each MinHash-verified connected
    component keeps its LONGEST document (n_chars argmax, ties → lowest
    id) instead of the accidental id minimum — the survivor policy real
    pipelines want when near-dup copies differ (truncated mirrors,
    ad-injected variants). The twin computes the argmax over the
    UNCOLLAPSED component, so the hash check itself proves the
    exact-collapse-best pre-step is value-identical."""
    from ..operators.dedup import cc_dedup_best

    d = _t(spark, sf_dir, "documents")
    return cc_dedup_best(d, "n_chars").select("doc_id", "n_chars")


SQL_DEDUP_CC_BEST = f"""{_CC_COMP_SQL},
allc AS (
  SELECT d.doc_id, d.n_chars, COALESCE(c.comp, d.doc_id) AS comp
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
best AS (
  SELECT comp, doc_id
  FROM (SELECT comp, doc_id,
               row_number() OVER (PARTITION BY comp
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM allc)
  WHERE rn = 1
)
SELECT a.doc_id, a.n_chars
FROM allc a JOIN best b ON a.doc_id = b.doc_id
"""


def q_bpe_merges(spark, sf_dir):
    """First 3 BPE merges trained over the corpus
    (operators/textstats.py:bpe_merge_train) — distributed tokenizer
    fitting: vocabulary-grain reprs with freq-weighted integer pair
    counts (map-side combinable), greedy-leftmost literal-replace merge
    application whose boundary-space scheme makes replace() semantics
    identical in both engines, deterministic argmax (count desc, pair
    asc). The twin unrolls the 3 training steps as CTEs."""
    from ..operators.textstats import bpe_merge_train

    return bpe_merge_train(_t(spark, sf_dir, "documents"), n_merges=3)


SQL_BPE_MERGES = f"""
WITH wf AS (
  SELECT w, COUNT(*) AS freq
  FROM (SELECT unnest({_WORDS_WS_SQL}) AS w FROM documents) GROUP BY w
),
r0 AS (
  SELECT freq,
         ' ' || array_to_string(
           list_filter(regexp_split_to_array(w, ''), c -> c <> ''), '  ')
         || ' ' AS r
  FROM wf
),
p1 AS (
  SELECT p[1] AS lhs, p[2] AS rhs, SUM(freq) AS pair_count
  FROM (
    SELECT freq,
           unnest(list_filter(
             list_transform(t, (x, i) ->
               CASE WHEN i < len(t) THEN [x, t[i + 1]] END),
             q -> q IS NOT NULL)) AS p
    FROM (SELECT freq, regexp_split_to_array(trim(r), '  ') AS t FROM r0)
  ) GROUP BY 1, 2
),
m1 AS (SELECT lhs, rhs, pair_count FROM p1
         ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
r1 AS (SELECT freq,
                replace(r, ' ' || m.lhs || '  ' || m.rhs || ' ',
                           ' ' || m.lhs || m.rhs || ' ') AS r
         FROM r0 CROSS JOIN m1 m),
p2 AS (
  SELECT p[1] AS lhs, p[2] AS rhs, SUM(freq) AS pair_count
  FROM (
    SELECT freq,
           unnest(list_filter(
             list_transform(t, (x, i) ->
               CASE WHEN i < len(t) THEN [x, t[i + 1]] END),
             q -> q IS NOT NULL)) AS p
    FROM (SELECT freq, regexp_split_to_array(trim(r), '  ') AS t FROM r1)
  ) GROUP BY 1, 2
),
m2 AS (SELECT lhs, rhs, pair_count FROM p2
         ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
r2 AS (SELECT freq,
                replace(r, ' ' || m.lhs || '  ' || m.rhs || ' ',
                           ' ' || m.lhs || m.rhs || ' ') AS r
         FROM r1 CROSS JOIN m2 m),
p3 AS (
  SELECT p[1] AS lhs, p[2] AS rhs, SUM(freq) AS pair_count
  FROM (
    SELECT freq,
           unnest(list_filter(
             list_transform(t, (x, i) ->
               CASE WHEN i < len(t) THEN [x, t[i + 1]] END),
             q -> q IS NOT NULL)) AS p
    FROM (SELECT freq, regexp_split_to_array(trim(r), '  ') AS t FROM r2)
  ) GROUP BY 1, 2
),
m3 AS (SELECT lhs, rhs, pair_count FROM p3
         ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
r3 AS (SELECT freq,
                replace(r, ' ' || m.lhs || '  ' || m.rhs || ' ',
                           ' ' || m.lhs || m.rhs || ' ') AS r
         FROM r2 CROSS JOIN m3 m)
SELECT 1 AS step, lhs, rhs, pair_count FROM m1
UNION ALL SELECT 2, lhs, rhs, pair_count FROM m2
UNION ALL SELECT 3, lhs, rhs, pair_count FROM m3
"""


def q_stream_dedup(spark, sf_dir):
    """Streaming EXACT dedup: dropDuplicates on (source, md5(text))
    over a real 4-micro-batch file stream of the documents table —
    Spark's native stateful dedup operator (the state store carries the
    seen-key set across micro-batches) — then per-source survivor
    counts, proven ≡ batch DISTINCT bit-for-bit by the twin. Same
    idempotent staging + per-invocation memory-sink naming as
    q_stream_windowed_agg."""
    batch = _t(spark, sf_dir, "documents")
    stage = "/tmp/xdan_stream_docs_" + sf_dir.strip("/").replace("/", "_")
    spec = {"sf_dir": sf_dir, "rows": batch.count(), "n_files": 4}
    marker = os.path.join(stage, "_SPEC.json")
    _stage_with_spec(
        marker, spec,
        lambda: batch.repartition(4).write.mode("overwrite")
        .parquet(f"{stage}/documents"),
    )
    src = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{stage}/documents")
    )
    dd = src.select(
        "source", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("_h")
    ).dropDuplicates(["source", "_h"])
    agg = dd.groupBy("source").agg(F.count("*").alias("n_unique"))
    key = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    name = f"stream_dedup_{key}_{next(_STREAM_QUERY_SEQ)}"
    q = (
        agg.writeStream.outputMode("complete").format("memory")
        .queryName(name).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.table(name)
    local = spark.createDataFrame(out.collect(), schema=out.schema)
    spark.catalog.dropTempView(name)
    return local


SQL_STREAM_DEDUP = """
SELECT source, COUNT(DISTINCT md5(coalesce(text, ''))) AS n_unique
FROM documents GROUP BY source
"""


def q_quantile_normalize(spark, sf_dir):
    """Cross-source quantile normalization of doc length
    (operators/curation.py:quantile_normalize) — batch-effect
    correction before a single global threshold: each doc's n_chars
    maps to the pooled distribution's value at the same within-source
    relative rank. All-integer (round-half-up rational index into the
    value-compressed pooled histogram; no float anywhere), so
    cross-engine identity is structural."""
    from ..operators.curation import quantile_normalize

    return quantile_normalize(_t(spark, sf_dir, "documents"),
                              "n_chars", "source")


SQL_QUANTILE_NORMALIZE = """
WITH n AS (SELECT COUNT(*) AS nn FROM documents),
ranked AS (
  SELECT doc_id, source AS g, n_chars AS v,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS ng
  FROM documents
),
tgt AS (
  SELECT doc_id, g, v,
         CASE WHEN ng > 1
              THEN 1 + (2 * (nn - 1) * (rn - 1) + (ng - 1))
                       // (2 * (ng - 1))
              ELSE (nn + 1) // 2 END AS idx
  FROM ranked CROSS JOIN n
),
hist AS (
  SELECT hv, hi, hi - c + 1 AS lo FROM (
    SELECT n_chars AS hv, COUNT(*) AS c,
           SUM(COUNT(*)) OVER (ORDER BY n_chars) AS hi
    FROM documents GROUP BY n_chars)
)
SELECT doc_id, g AS source, v AS n_chars, hv AS norm_n_chars
FROM tgt JOIN hist ON idx >= lo AND idx <= hi
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights toward the English slice
    (operators/curation.py:dsir_weights): hashed-unigram log-ratio
    scoring with add-1 smoothing — the classifier-free "more docs like
    the target" selector. Both probability tables are ≤1024 rows (the
    hash-bucket bound is DSIR's own trick), so they broadcast and the
    scoring pass never shuffles at vocab grain."""
    from ..operators.curation import dsir_weights

    d = _t(spark, sf_dir, "documents")
    return dsir_weights(d, F.col("lang") == "en")


SQL_DSIR_WEIGHTS = f"""
WITH ex AS (
  SELECT doc_id, lang = 'en' AS t,
         CAST('0x' || substr(md5('ds:' || w), 1, 8) AS BIGINT) % 1024 AS b
  FROM (SELECT doc_id, lang, unnest({_WORDS_WS_SQL}) AS w FROM documents)
),
tgt AS (SELECT b, COUNT(*) AS ct FROM ex WHERE t GROUP BY b),
srcs AS (SELECT b, COUNT(*) AS cs FROM ex GROUP BY b),
tot AS (
  SELECT SUM(CASE WHEN t THEN 1 ELSE 0 END) AS nt, COUNT(*) AS ns FROM ex
),
ratio AS (
  SELECT srcs.b,
         round(ln((CAST(coalesce(ct, 0) + 1 AS DOUBLE)
                   / CAST(nt + 1024 AS DOUBLE))
                  / (CAST(cs + 1 AS DOUBLE)
                     / CAST(ns + 1024 AS DOUBLE))), 9) AS lr
  FROM srcs LEFT JOIN tgt ON srcs.b = tgt.b CROSS JOIN tot
)
SELECT doc_id, COUNT(*) AS n_tokens,
       round(CAST(SUM(CAST(lr AS DECIMAL(28,9))) AS DOUBLE), 6)
         AS dsir_weight
FROM ex JOIN ratio ON ex.b = ratio.b
GROUP BY doc_id
"""


def q_bigram_lm_ppl(spark, sf_dir):
    """Held-out bigram language-model scoring — the "train a KenLM on
    your corpus, score everything" CCNet step at its deterministic
    core: an 80/20 md5-bucket split, add-1-smoothed bigram
    probabilities from the train slice, per-test-doc mean negative log
    prob. Train counts are one explode+groupBy; test bigrams join the
    count tables on their natural keys (vocab-grain shuffles with
    map-side combine); V and the unigram table ride the joins. Each
    ln term is rounded 9 dp and DECIMAL-summed per doc."""
    from ..functions.tokenize import WS_PLUS

    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda x: F.length(x) > 0)
    bucket = F.conv(F.substring(F.md5(F.concat(F.lit("sp:"),
                                               F.col("doc_id").cast("string"))),
                                1, 8), 16, 10).cast("long") % 100
    base = d.select("doc_id", words.alias("_ws"), bucket.alias("_bk"))
    pairs = F.filter(
        F.zip_with(
            F.col("_ws"),
            F.slice(F.col("_ws"), 2, F.greatest(F.size("_ws") - 1, F.lit(0))),
            lambda x, y: F.when(y.isNotNull(),
                                F.struct(x.alias("w1"), y.alias("w2"))),
        ),
        lambda p: p.isNotNull(),
    )
    train = base.filter(F.col("_bk") < 80)
    test = base.filter(F.col("_bk") >= 80)
    big = (
        train.select(F.explode(pairs).alias("_p"))
        .groupBy(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
        .agg(F.count("*").alias("c12"))
    )
    uni = (
        train.select(F.explode(F.col("_ws")).alias("w1"))
        .groupBy("w1").agg(F.count("*").alias("c1"))
    )
    vtbl = uni.agg(F.count("*").alias("_V"))
    tb = test.select("doc_id", F.explode(pairs).alias("_p")).select(
        "doc_id", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2")
    )
    scored = (
        tb.join(big, ["w1", "w2"], "left")
        .join(uni, "w1", "left")
        .crossJoin(F.broadcast(vtbl))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("_V"))
                    .cast("double")
                ),
                9,
            ).alias("_lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            (-F.sum(F.col("_lp").cast("decimal(28,9)")).cast("double"))
            / F.count("*").cast("double"),
            6,
        ).alias("avg_neg_logprob"),
    )


SQL_BIGRAM_LM_PPL = f"""
WITH base AS (
  SELECT doc_id, {_WORDS_WS_SQL} AS ws,
         CAST('0x' || substr(md5('sp:' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 100 AS bk
  FROM documents
),
pz AS (
  SELECT doc_id, bk,
         list_filter(
           list_transform(ws, (x, i) ->
             CASE WHEN i < len(ws) THEN [x, ws[i + 1]] END),
           q -> q IS NOT NULL) AS prs,
         ws
  FROM base
),
big AS (
  SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS c12
  FROM (SELECT unnest(prs) AS p FROM pz WHERE bk < 80) GROUP BY 1, 2
),
uni AS (
  SELECT w1, COUNT(*) AS c1
  FROM (SELECT unnest(ws) AS w1 FROM pz WHERE bk < 80) GROUP BY 1
),
v AS (SELECT COUNT(*) AS vv FROM uni),
tb AS (
  SELECT doc_id, p[1] AS w1, p[2] AS w2
  FROM (SELECT doc_id, unnest(prs) AS p FROM pz WHERE bk >= 80)
),
scored AS (
  SELECT doc_id,
         round(ln(CAST(coalesce(c12, 0) + 1 AS DOUBLE)
                  / CAST(coalesce(c1, 0) + vv AS DOUBLE)), 9) AS lp
  FROM tb LEFT JOIN big USING (w1, w2)
          LEFT JOIN uni USING (w1)
  CROSS JOIN v
)
SELECT doc_id, COUNT(*) AS n_bigrams,
       round(-CAST(SUM(CAST(lp AS DECIMAL(28,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_neg_logprob
FROM scored GROUP BY doc_id
"""


def q_conformal_bounds(spark, sf_dir):
    """Split-conformal prediction bounds on doc length with the
    finite-sample coverage guarantee (Vovk et al.; the distribution-free
    data-validation recipe): calibration = md5 bucket < 50, bounds =
    the floor((n+1)·0.05)-th and ceil((n+1)·0.95)-th order statistics
    of calibration n_chars — EXACT integer ranks, no interpolation —
    then measured coverage on the held-out slice. Guarantee: coverage ≥
    0.9 in expectation over splits; the measured value is reported, not
    asserted. Rank extraction rides the value-compressed histogram
    (bounded state, no global row sort); everything is integer until
    the one terminal coverage division."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.concat(F.lit("cf:"),
                                               F.col("doc_id").cast("string"))),
                                1, 8), 16, 10).cast("long") % 100
    base = d.select("doc_id", F.col("n_chars"), bucket.alias("_bk"))
    cal = base.filter(F.col("_bk") < 50)
    test = base.filter(F.col("_bk") >= 50)
    hist = (
        cal.groupBy("n_chars").agg(F.count("*").alias("_c"))
        .withColumn("_hi", F.sum("_c").over(Window.orderBy("n_chars")))
        .withColumn("_lo", F.col("_hi") - F.col("_c") + 1)
    )
    n_tbl = cal.agg(F.count("*").alias("_n"))
    ranks = n_tbl.select(
        "_n",
        F.expr("CAST(FLOOR((_n + 1) * 0.05) AS LONG)").alias("_rlo"),
        F.expr("CAST(CEIL((_n + 1) * 0.95) AS LONG)").alias("_rhi"),
    ).select(
        "_n",
        F.greatest(F.col("_rlo"), F.lit(1)).alias("_rlo"),
        F.least(F.col("_rhi"), F.col("_n")).alias("_rhi"),
    )
    bounds = (
        F.broadcast(ranks).join(
            F.broadcast(hist),
            (F.col("_rlo") >= F.col("_lo")) & (F.col("_rlo") <= F.col("_hi")),
        ).select(F.col("_n"), F.col("_rhi"),
                 F.col("n_chars").alias("lo_bound"))
        .join(
            F.broadcast(hist.select(F.col("n_chars").alias("_v2"),
                                    F.col("_lo").alias("_lo2"),
                                    F.col("_hi").alias("_hi2"))),
            (F.col("_rhi") >= F.col("_lo2")) & (F.col("_rhi") <= F.col("_hi2")),
        ).select(F.col("_n").alias("n_cal"), "lo_bound",
                 F.col("_v2").alias("hi_bound"))
    )
    return (
        test.crossJoin(F.broadcast(bounds))
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.max("lo_bound").alias("lo_bound"),
            F.max("hi_bound").alias("hi_bound"),
            F.count("*").alias("n_test"),
            F.sum(
                F.when(
                    (F.col("n_chars") >= F.col("lo_bound"))
                    & (F.col("n_chars") <= F.col("hi_bound")), 1
                ).otherwise(0)
            ).alias("n_covered"),
        )
        .withColumn(
            "coverage",
            F.round(F.col("n_covered").cast("double")
                    / F.col("n_test").cast("double"), 6),
        )
    )


SQL_CONFORMAL_BOUNDS = """
WITH base AS (
  SELECT doc_id, n_chars,
         CAST('0x' || substr(md5('cf:' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % 100 AS bk
  FROM documents
),
cal AS (SELECT n_chars FROM base WHERE bk < 50),
test AS (SELECT n_chars FROM base WHERE bk >= 50),
hist AS (
  SELECT n_chars, hi, hi - c + 1 AS lo FROM (
    SELECT n_chars, COUNT(*) AS c,
           SUM(COUNT(*)) OVER (ORDER BY n_chars) AS hi
    FROM cal GROUP BY n_chars)
),
n AS (SELECT COUNT(*) AS nn FROM cal),
rk AS (
  SELECT nn,
         greatest(CAST(FLOOR((nn + 1) * 0.05) AS BIGINT), 1) AS rlo,
         least(CAST(CEIL((nn + 1) * 0.95) AS BIGINT), nn) AS rhi
  FROM n
),
bounds AS (
  SELECT rk.nn AS n_cal,
         (SELECT n_chars FROM hist WHERE rk.rlo >= lo AND rk.rlo <= hi)
           AS lo_bound,
         (SELECT n_chars FROM hist WHERE rk.rhi >= lo AND rk.rhi <= hi)
           AS hi_bound
  FROM rk
)
SELECT max(n_cal) AS n_cal, max(lo_bound) AS lo_bound,
       max(hi_bound) AS hi_bound, COUNT(*) AS n_test,
       SUM(CASE WHEN n_chars >= lo_bound AND n_chars <= hi_bound
            THEN 1 ELSE 0 END) AS n_covered,
       round(CAST(SUM(CASE WHEN n_chars >= lo_bound AND n_chars <= hi_bound
                       THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
FROM test CROSS JOIN bounds
"""


def q_coverage_select(spark, sf_dir):
    """Greedy maximum-coverage selection of 3 documents
    (operators/curation.py:greedy_coverage_select) — the submodular
    "which docs add the most new vocabulary" pruning step, 1−1/e
    approximate by the classic greedy guarantee, over distinct
    TRIGRAMS (one template doc exhausts this corpus's unigram
    vocabulary — the degenerate objective the ngram knob exists for).
    Per step: one distributed gain aggregate with the covered set
    broadcast anti-joined; the corpus is never sorted. The twin
    unrolls the 3 greedy steps as CTEs."""
    from ..operators.curation import greedy_coverage_select

    return greedy_coverage_select(_t(spark, sf_dir, "documents"), k=3,
                                  ngram=3)


SQL_COVERAGE_SELECT = f"""
WITH t AS (SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS tm
           FROM documents),
g1 AS (SELECT doc_id, COUNT(*) AS gain FROM t GROUP BY doc_id),
s1 AS (SELECT doc_id, gain FROM g1 ORDER BY gain DESC, doc_id LIMIT 1),
c1 AS (SELECT DISTINCT tm FROM t WHERE doc_id = (SELECT doc_id FROM s1)),
g2 AS (
  SELECT doc_id, COUNT(*) AS gain FROM t
  WHERE doc_id <> (SELECT doc_id FROM s1)
    AND tm NOT IN (SELECT tm FROM c1)
  GROUP BY doc_id
),
s2 AS (SELECT doc_id, gain FROM g2 ORDER BY gain DESC, doc_id LIMIT 1),
c2 AS (
  SELECT tm FROM c1
  UNION
  SELECT tm FROM t WHERE doc_id = (SELECT doc_id FROM s2)
),
g3 AS (
  SELECT doc_id, COUNT(*) AS gain FROM t
  WHERE doc_id NOT IN (SELECT doc_id FROM s1 UNION SELECT doc_id FROM s2)
    AND tm NOT IN (SELECT tm FROM c2)
  GROUP BY doc_id
),
s3 AS (SELECT doc_id, gain FROM g3 ORDER BY gain DESC, doc_id LIMIT 1)
SELECT 1 AS step, s1.doc_id, s1.gain AS new_terms,
       s1.gain AS covered_total FROM s1
UNION ALL
SELECT 2, s2.doc_id, s2.gain, s1.gain + s2.gain FROM s1, s2
UNION ALL
SELECT 3, s3.doc_id, s3.gain, s1.gain + s2.gain + s3.gain FROM s1, s2, s3
"""


def q_lsh_recall_eval(spark, sf_dir):
    """LSH banding recall MEASURED against exact ground truth — the
    eval a dedup rollout runs before trusting its banding geometry:
    exact shingle-Jaccard ≥ 0.7 pairs come from the PPJoin prefix
    filter (guaranteed recall 1.0) applied in md5-shingle space (each
    distinct shingle becomes one whitespace token, so the prefix
    filter's token-set Jaccard IS the shingle Jaccard the MinHash
    bands approximate); candidates come from the production 4×2
    banding. One row: (n_true_pairs, n_candidates, n_hits, recall,
    mean_capture_theory) — the theoretical capture 1−(1−j²)⁴ averaged
    over the true pairs rides alongside, spelled as explicit
    multiplications (a libm pow() could differ in the last ulp across
    engines). Recall ≥ theory-mean is the expected relationship; both
    are REPORTED, not asserted."""
    from ..operators.dedup import (
        minhash_candidate_pairs,
        prefix_filter_pairs,
        shingles,
    )

    d = _t(spark, sf_dir, "documents")
    sh_text = F.array_join(
        F.transform(F.array_distinct(shingles("text")), F.md5), " "
    )
    view = d.select("doc_id", sh_text.alias("text"))
    exact = prefix_filter_pairs(view, threshold_num=7, threshold_den=10)
    cand = minhash_candidate_pairs(d)
    hits = exact.join(cand, ["a", "b"], "left_semi")
    j = F.col("jaccard")
    q1 = F.lit(1.0) - j * j
    q2 = q1 * q1
    p = F.round(F.lit(1.0) - q2 * q2, 9)
    stats = exact.agg(
        F.count("*").alias("n_true_pairs"),
        F.round(
            (F.sum(p.cast("decimal(28,9)"))
             / F.greatest(F.count("*"), F.lit(1))).cast("double"), 6
        ).alias("mean_capture_theory"),
    )
    nh = hits.agg(F.count("*").alias("n_hits"))
    nc = cand.agg(F.count("*").alias("n_candidates"))
    return (
        stats.crossJoin(nh).crossJoin(nc)
        .select(
            "n_true_pairs", "n_candidates", "n_hits",
            F.round(
                F.col("n_hits").cast("double")
                / F.greatest(F.col("n_true_pairs"), F.lit(1)).cast("double"),
                6,
            ).alias("recall"),
            "mean_capture_theory",
        )
    )


SQL_LSH_RECALL_EVAL = f"""
WITH sh AS (
  SELECT doc_id, list_distinct([md5(x) FOR x IN {_SHINGLES_SQL}]) AS s
  FROM documents
),
tok AS (SELECT doc_id, unnest(s) AS term FROM sh),
vocab AS (SELECT term, COUNT(*) AS dfq FROM tok GROUP BY 1),
ranks AS (
  SELECT term, row_number() OVER (ORDER BY dfq, term) AS grank FROM vocab
),
sizes AS (SELECT doc_id, COUNT(*) AS s FROM tok GROUP BY 1),
pref AS (
  SELECT doc_id, term, s FROM (
    SELECT t.doc_id, t.term, z.s,
           row_number() OVER (PARTITION BY t.doc_id ORDER BY r.grank) AS dr
    FROM tok t JOIN ranks r ON t.term = r.term
    JOIN sizes z ON t.doc_id = z.doc_id
  ) WHERE dr <= s - (7 * s + 9) // 10 + 1
),
pcand AS (
  SELECT DISTINCT pa.doc_id AS a, pb.doc_id AS b
  FROM pref pa JOIN pref pb ON pa.term = pb.term AND pa.doc_id < pb.doc_id
   AND pb.s * 10 >= pa.s * 7 AND pa.s * 10 >= pb.s * 7
),
shared AS (
  SELECT c.a, c.b, COUNT(*) AS n_shared
  FROM pcand c JOIN tok ta ON ta.doc_id = c.a
  JOIN tok tb ON tb.doc_id = c.b AND tb.term = ta.term
  GROUP BY 1, 2
),
exact AS (
  SELECT s.a, s.b,
         round(CAST(s.n_shared AS DOUBLE)
               / CAST(za.s + zb.s - s.n_shared AS DOUBLE), 6) AS jaccard
  FROM shared s JOIN sizes za ON za.doc_id = s.a
  JOIN sizes zb ON zb.doc_id = s.b
  WHERE s.n_shared * 10 >= 7 * (za.s + zb.s - s.n_shared)
),
sigs AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r
    ON l.band_id = r.band_id AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
hits AS (SELECT e.a, e.b FROM exact e JOIN cand c ON e.a = c.a AND e.b = c.b),
st AS (
  SELECT COUNT(*) AS n_true_pairs,
         round(CAST(SUM(CAST(round(
                 1.0 - ((1.0 - jaccard * jaccard) * (1.0 - jaccard * jaccard))
                     * ((1.0 - jaccard * jaccard) * (1.0 - jaccard * jaccard)),
               9) AS DECIMAL(28,9))) / greatest(COUNT(*), 1) AS DOUBLE), 6)
           AS mean_capture_theory
  FROM exact
),
nh AS (SELECT COUNT(*) AS n_hits FROM hits),
nc AS (SELECT COUNT(*) AS n_candidates FROM cand)
SELECT n_true_pairs, n_candidates, n_hits,
       round(CAST(n_hits AS DOUBLE)
             / CAST(greatest(n_true_pairs, 1) AS DOUBLE), 6) AS recall,
       mean_capture_theory
FROM st, nh, nc
"""


def q_split_by_cluster(spark, sf_dir):
    """Near-dup-cluster-aware train/val/test split
    (operators/curation.py:cluster_safe_split): every member of a
    MinHash-verified connected component inherits the split of its
    component label — the leakage mode canonical-text keying
    (split_leak_safe) cannot catch: a test doc whose 0.9-Jaccard
    sibling was trained on. Assignment is pmod(md5(comp), 100) vs
    fixed 80/10/10 boundaries; the twin extends the recursive-CTE
    component labels with the same bucket rule."""
    from ..operators.curation import cluster_safe_split

    return cluster_safe_split(_t(spark, sf_dir, "documents"))


SQL_SPLIT_BY_CLUSTER = f"""{_CC_COMP_SQL},
allc AS (
  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS comp
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, comp,
       CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, comp,
         CAST('0x' || substr(md5(CAST(comp AS VARCHAR)), 1, 15) AS BIGINT)
           % 100 AS b
  FROM allc
)
"""


def q_hashed_tf_knn(spark, sf_dir):
    """Model-free document kNN by the HASHING TRICK, computed SPARSELY:
    each doc becomes a 256-bucket hashed term-count vector, but the
    vectors are never materialized — cosine to doc 0 is a sparse
    relational dot (join on shared buckets, integer count products)
    over the bucket tables, which is exactly how sparse similarity
    scales (dense 256-dim arrays per doc would ship zeros; at 2^20
    buckets the join form is the only viable one). Top-10 by rounded
    cosine, ties → id."""
    from ..functions.tokenize import WS_PLUS

    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda x: F.length(x) > 0)
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("htf:"), F.col("_w"))), 1, 8),
               16, 10).cast("long") % 256
    )
    tb = (
        d.select("doc_id", F.explode(words).alias("_w"))
        .select("doc_id", bucket.alias("b"))
        .groupBy("doc_id", "b").agg(F.count("*").alias("c"))
    )
    norms = tb.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).alias("_n2"))
    q0 = tb.filter(F.col("doc_id") == 0).select(
        F.col("b"), F.col("c").alias("c0"))
    n0 = norms.filter(F.col("doc_id") == 0).select(
        F.col("_n2").alias("_n0"))
    dots = (
        tb.join(F.broadcast(q0), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("c0")).alias("_dot"))
    )
    return (
        dots.join(norms, "doc_id").crossJoin(F.broadcast(n0))
        .select(
            "doc_id",
            F.round(
                F.col("_dot").cast("double")
                / (F.sqrt(F.col("_n2").cast("double"))
                   * F.sqrt(F.col("_n0").cast("double"))),
                6,
            ).alias("cosine_r"),
        )
        .orderBy(F.desc("cosine_r"), F.asc("doc_id"))
        .limit(10)
    )


SQL_HASHED_TF_KNN = f"""
WITH ex AS (
  SELECT doc_id,
         CAST('0x' || substr(md5('htf:' || w), 1, 8) AS BIGINT) % 256 AS b
  FROM (SELECT doc_id, unnest({_WORDS_WS_SQL}) AS w FROM documents)
),
tb AS (SELECT doc_id, b, COUNT(*) AS c FROM ex GROUP BY 1, 2),
norms AS (SELECT doc_id, SUM(c * c) AS n2 FROM tb GROUP BY 1),
q0 AS (SELECT b, c AS c0 FROM tb WHERE doc_id = 0),
n0 AS (SELECT n2 AS nn0 FROM norms WHERE doc_id = 0),
dots AS (
  SELECT tb.doc_id, SUM(tb.c * q0.c0) AS dot
  FROM tb JOIN q0 ON tb.b = q0.b GROUP BY tb.doc_id
)
SELECT d.doc_id,
       round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(n2 AS DOUBLE)) * sqrt(CAST(nn0 AS DOUBLE))), 6)
         AS cosine_r
FROM dots d JOIN norms USING (doc_id) CROSS JOIN n0
ORDER BY cosine_r DESC, doc_id LIMIT 10
"""


def q_slot_apportionment(spark, sf_dir):
    """Hamilton largest-remainder apportionment of a 1000-slot crawl /
    sampling budget across sources, weighted by kept-doc count under
    the Gopher rule — the quota-allocation primitive behind politeness
    budgets and mixture quotas, done EXACTLY: base = floor(w·B/W) via
    integer division, the B − Σbase leftover slots go to the largest
    remainders (ties → source asc), so the slot column sums to B
    precisely — no float rounding drift ever leaves slots unassigned.
    All-integer; the remainder rank is a window over the ≤#sources
    aggregate, never the corpus."""
    from ..functions.heuristics import heuristic_columns

    d = _t(spark, sf_dir, "documents")
    h = heuristic_columns("text")
    keep = (
        (F.round(h["symbol_ratio"], 9) <= 0.1)
        & (h["n_words"].cast("long") >= 5)
        & (F.round(h["dup_line_frac"], 9) <= 0.3)
    )
    B = 1000
    per = d.groupBy("source").agg(
        F.sum(F.when(keep, 1).otherwise(0)).alias("w")
    )
    tot = per.agg(F.sum("w").alias("wtot"), F.count("*").alias("_g"))
    j = per.crossJoin(F.broadcast(tot))
    j = j.select(
        "source", "w",
        F.expr(f"(w * {B}) DIV wtot").alias("base"),
        F.expr(f"(w * {B}) % wtot").alias("rem"),
    )
    used = j.agg(F.sum("base").alias("_used")).collect()[0]["_used"]
    leftover = B - int(used)
    wr = Window.orderBy(F.desc("rem"), F.asc("source"))
    return (
        j.withColumn("_rk", F.row_number().over(wr))
        .select(
            "source", "w", "base", "rem",
            (F.col("base")
             + F.when(F.col("_rk") <= leftover, 1).otherwise(0)).alias("slots"),
        )
    )


SQL_SLOT_APPORTIONMENT = f"""
WITH base AS (
  SELECT source, coalesce(text, '') AS t, {_WORDS_WS_SQL} AS ws
  FROM documents
),
ln_t AS (
  SELECT source, t, ws,
         list_filter(regexp_split_to_array(t, '{_WS_CLASS_SQL}*\n{_WS_CLASS_SQL}*'),
                     x -> x <> '') AS lines
  FROM base
),
g AS (
  SELECT source,
         CASE WHEN (CASE WHEN len(ws) = 0 THEN 0.0
               ELSE CAST(length(t) - length(translate(t, {_SYM_TRANSLATE_SQL}, ''))
                         AS DOUBLE) / len(ws) END) <= 0.1
          AND len(ws) >= 5
          AND (CASE WHEN len(lines) <= 1 THEN 0.0
               ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                    / len(lines) END) <= 0.3
         THEN 1 ELSE 0 END AS kp
  FROM ln_t
),
per AS (SELECT source, SUM(kp) AS w FROM g GROUP BY source),
tot AS (SELECT SUM(w) AS ww FROM per),
j AS (
  SELECT source, w, (w * 1000) // ww AS base, (w * 1000) % ww AS rem
  FROM per CROSS JOIN tot
),
lo AS (SELECT 1000 - SUM(base) AS leftover FROM j)
SELECT source, w, base, rem,
       base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS slots
FROM (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM j)
CROSS JOIN lo
"""


def q_dedup_family_kappa(spark, sf_dir):
    """Inter-family agreement on keep/drop decisions: the exact 2×2
    contingency between MinHash-Jaccard and SimHash verdicts plus
    Cohen's kappa — the one-number answer to "are my two near-dup
    detectors measuring the same thing", computed on top of the
    dedup-provenance flags. Counts are exact integers; kappa is one
    fixed IEEE sequence (po − pe)/(1 − pe) rounded 6 dp."""
    from ..operators.dedup import dedup_provenance

    prov = dedup_provenance(_t(spark, sf_dir, "documents"))
    a = F.col("kept_minhash").cast("long")
    b = F.col("kept_simhash").cast("long")
    ct = prov.agg(
        F.count("*").alias("n"),
        F.sum(a * b).alias("n11"),
        F.sum(a * (1 - b)).alias("n10"),
        F.sum((1 - a) * b).alias("n01"),
        F.sum((1 - a) * (1 - b)).alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pe = (
        ((F.col("n11") + F.col("n10")).cast("double") / nd)
        * ((F.col("n11") + F.col("n01")).cast("double") / nd)
        + ((F.col("n01") + F.col("n00")).cast("double") / nd)
        * ((F.col("n10") + F.col("n00")).cast("double") / nd)
    )
    return ct.select(
        "n", "n11", "n10", "n01", "n00",
        F.round(po, 6).alias("po"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


def _sql_dedup_family_kappa() -> str:
    prov = _sql_dedup_provenance()
    return f"""
WITH prov AS ({prov}),
ct AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN kept_minhash AND kept_simhash THEN 1 ELSE 0 END) AS n11,
         SUM(CASE WHEN kept_minhash AND NOT kept_simhash THEN 1 ELSE 0 END) AS n10,
         SUM(CASE WHEN NOT kept_minhash AND kept_simhash THEN 1 ELSE 0 END) AS n01,
         SUM(CASE WHEN NOT kept_minhash AND NOT kept_simhash THEN 1 ELSE 0 END) AS n00
  FROM prov
)
SELECT n, n11, n10, n01, n00,
       round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
       round((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
              - (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)
                 * CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)
                 + CAST(n01 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                   * CAST(n10 + n00 AS DOUBLE) / CAST(n AS DOUBLE)))
             / (1.0 - (CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE)
                 * CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE)
                 + CAST(n01 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                   * CAST(n10 + n00 AS DOUBLE) / CAST(n AS DOUBLE))), 6)
         AS kappa
FROM ct
"""


def q_filter_cascade_plan(spark, sf_dir):
    """Filter-cascade ORDERING plan: per Gopher rule, the measured
    solo drop count and selectivity, ranked cheapest-first-most-
    selective-first — the predicate-ordering decision a 100 TB filter
    stack makes once per corpus profile (run the rule that kills the
    most docs per unit cost first; later rules see fewer rows). Cost
    weights are the documented static proxies (translate=1, split=2,
    line-split+distinct=3); the efficiency rank is
    drop_count·1000 DIV cost — integer, so the ordering never rides a
    float ULP. One scan computes every rule's flag; counts fold
    map-side."""
    from ..functions.heuristics import heuristic_columns

    d = _t(spark, sf_dir, "documents")
    h = heuristic_columns("text")
    rules = [
        ("min_words", h["n_words"].cast("long") < 5, 2),
        ("symbol_ratio", F.round(h["symbol_ratio"], 9) > 0.1, 1),
        ("dup_lines", F.round(h["dup_line_frac"], 9) > 0.3, 3),
    ]
    flags = d.select(*[
        F.when(cond, 1).otherwise(0).alias(f"_f_{name}")
        for name, cond, _ in rules
    ])
    agg = flags.agg(
        F.count("*").alias("n"),
        *[F.sum(f"_f_{name}").alias(f"_d_{name}") for name, _, _ in rules],
    )
    rows = []
    for name, _, cost in rules:
        rows.append(
            agg.select(
                F.lit(name).alias("rule"),
                F.lit(cost).alias("cost"),
                F.col(f"_d_{name}").alias("n_dropped_alone"),
                F.round(
                    F.col(f"_d_{name}").cast("double")
                    / F.col("n").cast("double"), 6
                ).alias("selectivity"),
                F.expr(f"(_d_{name} * 1000) DIV {cost}").alias("efficiency"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    wnd = Window.orderBy(F.desc("efficiency"), F.asc("rule"))
    return out.withColumn("run_order", F.row_number().over(wnd))


SQL_FILTER_CASCADE_PLAN = f"""
WITH base AS (
  SELECT coalesce(text, '') AS t, {_WORDS_WS_SQL} AS ws FROM documents
),
ln_t AS (
  SELECT t, ws,
         list_filter(regexp_split_to_array(t, '{_WS_CLASS_SQL}*\n{_WS_CLASS_SQL}*'),
                     x -> x <> '') AS lines
  FROM base
),
fl AS (
  SELECT CASE WHEN len(ws) < 5 THEN 1 ELSE 0 END AS f_min_words,
         CASE WHEN (CASE WHEN len(ws) = 0 THEN 0.0
               ELSE CAST(length(t) - length(translate(t, {_SYM_TRANSLATE_SQL}, ''))
                         AS DOUBLE) / len(ws) END) > 0.1 THEN 1 ELSE 0 END
           AS f_symbol_ratio,
         CASE WHEN (CASE WHEN len(lines) <= 1 THEN 0.0
               ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                    / len(lines) END) > 0.3 THEN 1 ELSE 0 END AS f_dup_lines
  FROM ln_t
),
agg AS (
  SELECT COUNT(*) AS n, SUM(f_min_words) AS d_min_words,
         SUM(f_symbol_ratio) AS d_symbol_ratio,
         SUM(f_dup_lines) AS d_dup_lines
  FROM fl
),
rules AS (
  SELECT 'min_words' AS rule, 2 AS cost, d_min_words AS n_dropped_alone,
         round(CAST(d_min_words AS DOUBLE) / n, 6) AS selectivity,
         (d_min_words * 1000) // 2 AS efficiency FROM agg
  UNION ALL
  SELECT 'symbol_ratio', 1, d_symbol_ratio,
         round(CAST(d_symbol_ratio AS DOUBLE) / n, 6),
         (d_symbol_ratio * 1000) // 1 FROM agg
  UNION ALL
  SELECT 'dup_lines', 3, d_dup_lines,
         round(CAST(d_dup_lines AS DOUBLE) / n, 6),
         (d_dup_lines * 1000) // 3 FROM agg
)
SELECT rule, cost, n_dropped_alone, selectivity, efficiency,
       row_number() OVER (ORDER BY efficiency DESC, rule) AS run_order
FROM rules
"""


def q_keep_rate_wilson(spark, sf_dir):
    """Per-source keep rate under the Gopher rule with the 95% WILSON
    score interval — the honest uncertainty band small sources need
    (a 10-doc source's 0.9 keep rate means far less than a 10⁶-doc
    source's; normal-approximation intervals collapse near 0/1 where
    web keep rates live). Counts are exact integers; the interval is
    one fixed IEEE sequence per source (z = 1.96 literal) rounded 6
    dp."""
    from ..functions.heuristics import heuristic_columns

    d = _t(spark, sf_dir, "documents")
    h = heuristic_columns("text")
    keep = (
        (F.round(h["symbol_ratio"], 9) <= 0.1)
        & (h["n_words"].cast("long") >= 5)
        & (F.round(h["dup_line_frac"], 9) <= 0.3)
    )
    per = d.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("k"),
    )
    nd = F.col("n").cast("double")
    p = F.col("k").cast("double") / nd
    z2 = F.lit(1.96 * 1.96)
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (F.lit(2.0) * nd)) / denom
    half = (
        F.lit(1.96)
        * F.sqrt(p * (F.lit(1.0) - p) / nd + z2 / (F.lit(4.0) * nd * nd))
        / denom
    )
    return per.select(
        "source", "n", "k",
        F.round(p, 6).alias("keep_rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


SQL_KEEP_RATE_WILSON = f"""
WITH base AS (
  SELECT source, coalesce(text, '') AS t, {_WORDS_WS_SQL} AS ws
  FROM documents
),
ln_t AS (
  SELECT source, t, ws,
         list_filter(regexp_split_to_array(t, '{_WS_CLASS_SQL}*\n{_WS_CLASS_SQL}*'),
                     x -> x <> '') AS lines
  FROM base
),
g AS (
  SELECT source,
         CASE WHEN (CASE WHEN len(ws) = 0 THEN 0.0
               ELSE CAST(length(t) - length(translate(t, {_SYM_TRANSLATE_SQL}, ''))
                         AS DOUBLE) / len(ws) END) <= 0.1
          AND len(ws) >= 5
          AND (CASE WHEN len(lines) <= 1 THEN 0.0
               ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                    / len(lines) END) <= 0.3
         THEN 1 ELSE 0 END AS kp
  FROM ln_t
),
per AS (SELECT source, COUNT(*) AS n, SUM(kp) AS k FROM g GROUP BY source)
SELECT source, n, k,
       round(CAST(k AS DOUBLE) / n, 6) AS keep_rate,
       round(((CAST(k AS DOUBLE) / n + 3.8416 / (2 * n))
              / (1.0 + 3.8416 / n))
             - (1.96 * sqrt((CAST(k AS DOUBLE) / n)
                            * (1.0 - CAST(k AS DOUBLE) / n) / n
                            + 3.8416 / (4.0 * CAST(n AS DOUBLE) * n))
                / (1.0 + 3.8416 / n)), 6) AS wilson_lo,
       round(((CAST(k AS DOUBLE) / n + 3.8416 / (2 * n))
              / (1.0 + 3.8416 / n))
             + (1.96 * sqrt((CAST(k AS DOUBLE) / n)
                            * (1.0 - CAST(k AS DOUBLE) / n) / n
                            + 3.8416 / (4.0 * CAST(n AS DOUBLE) * n))
                / (1.0 + 3.8416 / n)), 6) AS wilson_hi
FROM per
"""


def q_term_burstiness(spark, sf_dir):
    """Term BURSTINESS by the Fano factor (variance-to-mean ratio of
    per-day counts): stable function words sit near Poisson (F ≈ 1),
    event-driven vocabulary spikes (F ≫ 1) — the dispersion signal
    that separates topical bursts from steady background where raw
    frequency ranks can't. Top-20 over events.props-free text? No —
    over the documents corpus keyed by doc_id-derived synthetic days
    (doc_id DIV 50: deterministic, 10 days), since documents carry no
    timestamp; the estimator is the point. Counts are exact integers;
    the variance numerator n·Σx² − (Σx)² is integer products whose
    magnitudes stay far inside double's 2^53 exact range, so the whole
    statistic is two exact divisions. Terms below 30 total
    occurrences are excluded (tiny-sample Fano is noise; documented
    floor, not silent)."""
    from ..functions.tokenize import WS_PLUS

    d = _t(spark, sf_dir, "documents")
    words = F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), WS_PLUS),
                     lambda x: F.length(x) > 0)
    ex = d.select(
        (F.col("doc_id") / 50).cast("long").alias("day"),
        F.explode(words).alias("term"),
    )
    daily = ex.groupBy("term", "day").agg(F.count("*").alias("c"))
    days = daily.agg(F.count_distinct("day").alias("_nd"))
    per = daily.groupBy("term").agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("_s2"),
    )
    j = per.crossJoin(F.broadcast(days)).filter(F.col("total") >= 30)
    nd = F.col("_nd").cast("double")
    mean = F.col("total").cast("double") / nd
    var = (
        F.col("_nd").cast("double") * F.col("_s2").cast("double")
        - F.col("total").cast("double") * F.col("total").cast("double")
    ) / (nd * nd)
    fano = F.round(var / mean, 6)
    # a top-k sort (TakeOrderedAndProject: per-task top 20, then merge),
    # not a row_number over one unpartitioned window
    return (
        j.select("term", "total", fano.alias("fano"))
        .orderBy(F.desc("fano"), F.asc("term"))
        .limit(20)
    )


SQL_TERM_BURSTINESS = f"""
WITH ex AS (
  SELECT doc_id // 50 AS day, unnest({_WORDS_WS_SQL}) AS term
  FROM documents
),
daily AS (SELECT term, day, COUNT(*) AS c FROM ex GROUP BY 1, 2),
days AS (SELECT COUNT(DISTINCT day) AS nd FROM daily),
per AS (
  SELECT term, SUM(c) AS total, SUM(c * c) AS s2 FROM daily GROUP BY term
),
f AS (
  SELECT term, total,
         round(((CAST(nd AS DOUBLE) * s2 - CAST(total AS DOUBLE) * total)
                / (CAST(nd AS DOUBLE) * nd))
               / (CAST(total AS DOUBLE) / nd), 6) AS fano
  FROM per CROSS JOIN days WHERE total >= 30
)
SELECT term, total, fano FROM f ORDER BY fano DESC, term LIMIT 20
"""


def q_dedup_cc_incr(spark, sf_dir):
    """Incremental connected-component maintenance proven ≡ full
    recompute (operators/dedup.py:cc_incremental): labels built from
    the first half of the corpus (doc_id < 250) are UPDATED with the
    second half's verified edges — old components ride in as star
    edges, only affected subgraphs re-propagate — and the oracle twin
    computes CC over the ENTIRE corpus from scratch, so the hash check
    itself is the incremental-equals-full theorem. (Pairs are a
    pairwise property: banding restricted to old docs yields exactly
    the full corpus's old-old pairs, which is what makes the split
    faithful.)"""
    from ..operators.dedup import (
        cc_incremental,
        connected_components,
        jaccard_verify,
        minhash_candidate_pairs,
    )

    d = _t(spark, sf_dir, "documents")
    pairs = jaccard_verify(d, minhash_candidate_pairs(d), threshold=0.7)
    old_pairs = pairs.filter((F.col("a") < 250) & (F.col("b") < 250))
    new_pairs = pairs.filter((F.col("a") >= 250) | (F.col("b") >= 250))
    labels_old = connected_components(old_pairs.select("a", "b"))
    return cc_incremental(labels_old, new_pairs)


SQL_DEDUP_CC_INCR = f"""{_CC_COMP_SQL}
SELECT node, comp FROM comp
"""


def q_lsh_candidate_forecast(spark, sf_dir):
    """Candidate-pair VOLUME forecast from the band-bucket histogram —
    the cost model a dedup run consults BEFORE paying the self-join:
    per band, the bucket count, the hottest bucket, and the exact
    pair output Σ n(n−1)/2 the join would emit (the join-OUTPUT
    number AQE cannot shrink — this is how you decide max_bucket and
    predict shuffle write ahead of time). One aggregate over the band
    table; no join is executed."""
    from ..operators.dedup import minhash_bands

    d = _t(spark, sf_dir, "documents")
    b = minhash_bands(d)
    per = b.groupBy("band_id", "band_key").agg(F.count("*").alias("n"))
    return (
        per.groupBy("band_id")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("n").alias("max_bucket_size"),
            F.sum(
                (F.col("n") * (F.col("n") - 1)).cast("long") / F.lit(2)
            ).cast("long").alias("predicted_pairs"),
        )
        .orderBy("band_id")
    )


SQL_LSH_CANDIDATE_FORECAST = f"""
WITH sigs AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
bands AS ({_BANDS_SQL}),
per AS (
  SELECT band_id, band_key, COUNT(*) AS n FROM bands GROUP BY 1, 2
)
SELECT band_id, COUNT(*) AS n_buckets, MAX(n) AS max_bucket_size,
       CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS predicted_pairs
FROM per GROUP BY band_id ORDER BY band_id
"""


def q_dedup_audit_sample(spark, sf_dir):
    """Stratified human-audit sample of near-dup pairs: up to 3 pairs
    per Jaccard decile, picked by md5 order — the labeling-queue
    builder a dedup threshold review feeds (auditors must see pairs
    ACROSS the similarity range, not the head a similarity-ranked list
    would give; md5 keying keeps the queue stable across reruns so
    labels attach durably). Verified pairs only — candidates, never
    all-pairs — and the per-decile rank window runs over the bounded
    pair table."""
    from ..operators.dedup import jaccard_verify, minhash_candidate_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = jaccard_verify(d, minhash_candidate_pairs(d), threshold=0.0)
    dec = F.least(F.floor(F.col("jaccard") * 10).cast("int"), F.lit(9))
    keyed = pairs.select(
        "a", "b", F.round(F.col("jaccard"), 6).alias("jaccard"),
        dec.alias("decile"),
        F.md5(F.concat_ws(":", F.col("a"), F.col("b"))).alias("_h"),
    )
    w = Window.partitionBy("decile").orderBy("_h")
    return (
        keyed.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 3)
        .select("decile", "a", "b", "jaccard")
    )


def _sql_dedup_audit_sample() -> str:
    return f"""
WITH sigs AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.band_id = r.band_id AND l.band_key = r.band_key
  WHERE l.doc_id < r.doc_id
),
shd AS (SELECT doc_id,
               list_distinct([CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
                              FOR x IN sh]) AS s
        FROM sigs),
vals AS (
  SELECT c.a, c.b,
         CASE WHEN len(list_distinct(list_cat(sa.s, sb.s))) > 0
              THEN CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                   / CAST(len(list_distinct(list_cat(sa.s, sb.s))) AS DOUBLE)
              ELSE 0.0 END AS j
  FROM cand c JOIN shd sa ON sa.doc_id = c.a JOIN shd sb ON sb.doc_id = c.b
),
keyed AS (
  SELECT a, b, round(j, 6) AS jaccard,
         least(CAST(FLOOR(j * 10) AS INT), 9) AS decile,
         md5(CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)) AS h
  FROM vals
)
SELECT decile, a, b, jaccard
FROM (SELECT *, row_number() OVER (PARTITION BY decile ORDER BY h) AS rk
      FROM keyed)
WHERE rk <= 3
"""


def q_winnow_overlap(spark, sf_dir):
    """MOSS-style partial-overlap pairs by shared winnowing
    fingerprints (operators/textstats.py:winnow_overlap_pairs): doc
    pairs sharing ≥2 of their winnowed word-shingle fingerprints — the
    copied-PASSAGE detector whole-doc Jaccard reads as ~0 (a single
    shared run of ≥ n+w−1 words is guaranteed to fire by the winnowing
    theorem, while only ~2/(w+1) of shingles are kept). Fingerprints
    are md5-derived 60-bit mins, so the whole selection is
    oracle-checkable; the detector is an equi-self-join with the
    standard hot-key discipline."""
    from ..operators.textstats import winnow_overlap_pairs

    return winnow_overlap_pairs(_t(spark, sf_dir, "documents"),
                                min_shared=2)


SQL_WINNOW_OVERLAP = f"""
WITH sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM documents),
h AS (
  SELECT doc_id,
         [CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) FOR x IN s] AS hs
  FROM sh
),
fp AS (
  SELECT doc_id,
         list_distinct(
           list_transform(range(1, greatest(len(hs) - 3, 1) + 1),
                          i -> list_min(hs[i:i+3]))) AS fps
  FROM h
),
ex AS (SELECT doc_id, unnest(fps) AS f FROM fp)
SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS n_shared_fp
FROM ex l JOIN ex r ON l.f = r.f AND l.doc_id < r.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


def q_bpe_fertility(spark, sf_dir):
    """Token-fertility change after applying the 3 trained BPE merges
    (operators/textstats.py:bpe_fertility) — the train→APPLY lifecycle
    number a tokenizer rollout reads: frequency-weighted corpus symbol
    counts before (characters) and after the merges, plus the
    compression ratio. Same exact training loop as bpe_merges; all
    integer until the one terminal division."""
    from ..operators.textstats import bpe_fertility

    return bpe_fertility(_t(spark, sf_dir, "documents"), n_merges=3)


SQL_BPE_FERTILITY = f"""
WITH wf AS (
  SELECT w, COUNT(*) AS freq
  FROM (SELECT unnest({_WORDS_WS_SQL}) AS w FROM documents) GROUP BY w
),
r0 AS (
  SELECT freq,
         ' ' || array_to_string(
           list_filter(regexp_split_to_array(w, ''), c -> c <> ''), '  ')
         || ' ' AS r
  FROM wf
),
p1 AS (
  SELECT p[1] AS lhs, p[2] AS rhs, SUM(freq) AS pair_count
  FROM (
    SELECT freq,
           unnest(list_filter(
             list_transform(t, (x, i) ->
               CASE WHEN i < len(t) THEN [x, t[i + 1]] END),
             q -> q IS NOT NULL)) AS p
    FROM (SELECT freq, regexp_split_to_array(trim(r), '  ') AS t FROM r0)
  ) GROUP BY 1, 2
),
m1 AS (SELECT lhs, rhs, pair_count FROM p1
         ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
r1 AS (SELECT freq,
                replace(r, ' ' || m.lhs || '  ' || m.rhs || ' ',
                           ' ' || m.lhs || m.rhs || ' ') AS r
         FROM r0 CROSS JOIN m1 m),
p2 AS (
  SELECT p[1] AS lhs, p[2] AS rhs, SUM(freq) AS pair_count
  FROM (
    SELECT freq,
           unnest(list_filter(
             list_transform(t, (x, i) ->
               CASE WHEN i < len(t) THEN [x, t[i + 1]] END),
             q -> q IS NOT NULL)) AS p
    FROM (SELECT freq, regexp_split_to_array(trim(r), '  ') AS t FROM r1)
  ) GROUP BY 1, 2
),
m2 AS (SELECT lhs, rhs, pair_count FROM p2
         ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
r2 AS (SELECT freq,
                replace(r, ' ' || m.lhs || '  ' || m.rhs || ' ',
                           ' ' || m.lhs || m.rhs || ' ') AS r
         FROM r1 CROSS JOIN m2 m),
p3 AS (
  SELECT p[1] AS lhs, p[2] AS rhs, SUM(freq) AS pair_count
  FROM (
    SELECT freq,
           unnest(list_filter(
             list_transform(t, (x, i) ->
               CASE WHEN i < len(t) THEN [x, t[i + 1]] END),
             q -> q IS NOT NULL)) AS p
    FROM (SELECT freq, regexp_split_to_array(trim(r), '  ') AS t FROM r2)
  ) GROUP BY 1, 2
),
m3 AS (SELECT lhs, rhs, pair_count FROM p3
         ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
r3 AS (SELECT freq,
                replace(r, ' ' || m.lhs || '  ' || m.rhs || ' ',
                           ' ' || m.lhs || m.rhs || ' ') AS r
         FROM r2 CROSS JOIN m3 m)
SELECT COUNT(*) AS n_distinct_words,
       SUM(freq * length(replace(r, ' ', ''))) AS tokens_before,
       SUM(freq * len(regexp_split_to_array(trim(r), '  ')))
         AS tokens_after,
       round(CAST(SUM(freq * len(regexp_split_to_array(trim(r), '  ')))
                  AS DOUBLE)
             / CAST(SUM(freq * length(replace(r, ' ', ''))) AS DOUBLE), 6)
         AS compression
FROM r3
"""


# The query registry, one entry per query: name → (Spark query, DuckDB
# twin). A twin is its SQL string; a zero-argument function that builds
# it, called only by oracle_map() so that fetching the oracle SQL needs
# no SparkSession; or None for a rows-only query.
_REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame],
                           str | Callable[[], str] | None]] = {
    "p1_validation_filter": (q_p1_validation_filter, SQL_P1),
    "s7_field_mapping": (q_s7_field_mapping, SQL_S7),
    "s7_metadata_absorb": (q_s7_metadata_absorb, _sql_s7_metadata_absorb),
    "p3_normalization": (q_p3_normalization, SQL_P3),
    "p4_weighted_score": (q_p4_weighted_score, SQL_P4),
    "f1_keep_filter": (q_f1_keep_filter, SQL_F1),
    "f2_drop_lane": (q_f2_drop_lane, SQL_F2),
    "p6_error_default": (q_p6_error_default, _sql_p6),
    "p8_cost": (q_p8_cost, SQL_P8),
    "p9_format_conversion": (q_p9_format_conversion, _sql_p9),
    "p2_category": (q_p2_category, _sql_p2),
    "f1_category_filter": (q_f1_category_filter, _sql_f1_category),
    "p10_improvement_suggestions": (q_p10_improvement_suggestions, SQL_P10),
    "a1_batch_metrics": (q_a1_batch_metrics, SQL_A1),
    "a2_event_totals": (q_a2_event_totals, SQL_A2),
    "a3_source_distribution": (q_a3_source_distribution, SQL_A3),
    "a4_token_stats": (q_a4_token_stats, SQL_A4),
    "j1_anti_join_resume": (q_j1_anti_join_resume, SQL_J1),
    "j2_last_wins_dedup": (q_j2_last_wins_dedup, SQL_J2),
    "u1_union": (q_u1_union, SQL_U1),
    "o1_sort_limit": (q_o1_sort_limit, SQL_O1),
    "s3_sample": (q_s3_sample, SQL_S3),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_wordset": (q_dedup_wordset, SQL_DEDUP_WORDSET),
    "dedup_minhash_pairs": (q_dedup_minhash_pairs, SQL_DEDUP_MINHASH_PAIRS),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_cc": (q_dedup_cc, SQL_DEDUP_CC),
    "lang_id_heuristic": (q_lang_id_heuristic, SQL_LANG_ID),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "tf_top_terms": (q_tf_top_terms, SQL_TF_TOP_TERMS),
    "a6_token_quantiles": (q_a6_token_quantiles, SQL_A6_TOKEN_QUANTILES),
    "o2_topn_per_group": (q_o2_topn_per_group, SQL_O2_TOPN),
    "a8_langs_per_source": (q_a8_langs_per_source, SQL_A8_LANGS),
    "a9_rollup_report": (q_a9_rollup_report, SQL_A9_ROLLUP),
    "a10_quality_tiles": (q_a10_quality_tiles, SQL_A10_TILES),
    "dedup_lev_pairs": (q_dedup_lev_pairs, SQL_DEDUP_LEV),
    "a11_feature_corr": (q_a11_feature_corr, SQL_A11_CORR),
    "boilerplate_shingles": (q_boilerplate_shingles, SQL_BOILERPLATE),
    "a13_trimmed_mean": (q_a13_trimmed_mean, SQL_A13_TRIMMED),
    "a14_source_share": (q_a14_source_share, SQL_A14_SHARE),
    "lexical_diversity": (q_lexical_diversity, SQL_LEXICAL_DIVERSITY),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF),
    "pmi_bigrams": (q_pmi_bigrams, SQL_PMI),
    "a15_zscore_outliers": (q_a15_zscore_outliers, SQL_A15_ZSCORE),
    "cc_cluster_histogram": (q_cc_cluster_histogram, SQL_CC_HISTOGRAM),
    "gopher_stats": (q_gopher_stats, SQL_GOPHER_STATS),
    "a18_median_mad": (q_a18_median_mad, SQL_A18_MAD),
    "a20_length_log2_hist": (q_a20_length_log2_hist, SQL_A20_LOG2),
    "decon_benchmark_overlap": (q_decon_benchmark_overlap, SQL_DECON),
    "oov_rate": (q_oov_rate, SQL_OOV),
    "mixture_plan": (q_mixture_plan, SQL_MIXTURE),
    "chunk_plan": (q_chunk_plan, SQL_CHUNK),
    "pack_bins": (q_pack_bins, SQL_PACK),
    "char_diversity": (q_char_diversity, SQL_CHAR_DIVERSITY),
    "s3_weighted_sample": (q_s3_weighted_sample, SQL_S3_WEIGHTED),
    "ngram_repetition": (q_ngram_repetition, SQL_NGRAM_REPETITION),
    "token_entropy": (q_token_entropy, SQL_TOKEN_ENTROPY),
    "stopword_coverage": (
        q_stopword_coverage,
        lambda: SQL_STOPWORD_COVERAGE.replace(
            "{stoplist}", _stopword_list_sql()
        ),
    ),
    "dedup_canonical": (q_dedup_canonical, SQL_DEDUP_CANONICAL),
    "a21_length_band": (q_a21_length_band, SQL_A21_BAND),
    "lang_confusion": (q_lang_confusion, _lang_confusion_sql),
    "pii_prevalence": (q_pii_prevalence, _pii_prevalence_sql),
    "calibration_curve": (q_calibration_curve, _calibration_curve_sql),
    "a26_lang_deciles": (q_a26_lang_deciles, SQL_A26_LANG_DECILES),
    "dedup_spans": (q_dedup_spans, SQL_DEDUP_SPANS),
    "a28_vocab_census": (q_a28_vocab_census, SQL_A28_VOCAB_CENSUS),
    "dedup_spans_within": (q_dedup_spans_within, SQL_DEDUP_SPANS_WITHIN),
    "term_df_scrub": (q_term_df_scrub, SQL_TERM_DF_SCRUB),
    "dedup_minhash_incr": (q_dedup_minhash_incr, SQL_DEDUP_MINHASH_INCR),
    "domain_blocklist_filter": (q_domain_blocklist, SQL_DOMAIN_BLOCKLIST),
    "host_quota_sample": (q_host_quota_sample, SQL_HOST_QUOTA_SAMPLE),
    "url_dedup_lastwins": (q_url_dedup, _sql_url_dedup),
    "split_leak_safe": (q_split_leak_safe, SQL_SPLIT_LEAK_SAFE),
    "robots_filter": (q_robots_filter, SQL_ROBOTS_FILTER),
    "link_pagerank": (q_link_pagerank, _sql_pagerank),
    "link_degree_census": (q_link_degree_census, SQL_LINK_DEGREE_CENSUS),
    "mixture_apply": (q_mixture_apply, SQL_MIXTURE_APPLY),
    "normalize_punct": (q_normalize_punct, _sql_normalize_punct),
    "web_curation_e2e": (q_web_curation_e2e, SQL_WEB_CURATION_E2E),
    "tok_bytes_ratio": (q_tok_bytes_ratio, SQL_TOK_BYTES_RATIO),
    "hapax_rate": (q_hapax_rate, SQL_HAPAX_RATE),
    "zipf_slope": (q_zipf_slope, SQL_ZIPF_SLOPE),
    "hll_vocab": (q_hll_vocab, SQL_HLL_VOCAB),
    "cms_terms": (q_cms_terms, SQL_CMS_TERMS),
    "gini_sources": (q_gini_sources, SQL_GINI_SOURCES),
    "hits_scores": (q_hits_scores, SQL_HITS_SCORES),
    "profile_documents": (q_profile_documents, SQL_PROFILE_DOCUMENTS),
    "stream_hll": (q_stream_hll, SQL_STREAM_HLL),
    "kcore_links": (q_kcore_links, SQL_KCORE_LINKS),
    "link_structure": (q_link_structure, SQL_LINK_STRUCTURE),
    "scd2_pages": (q_scd2_pages, SQL_SCD2_PAGES),
    "bool_search": (q_bool_search, SQL_BOOL_SEARCH),
    "wrs_sample": (q_wrs_sample, SQL_WRS_SAMPLE),
    "hll_by_source": (q_hll_by_source, SQL_HLL_BY_SOURCE),
    "lang_source_mi": (q_lang_source_mi, SQL_LANG_SOURCE_MI),
    "fd_census": (q_fd_census, SQL_FD_CENSUS),
    "negative_samples": (q_negative_samples, SQL_NEGATIVE_SAMPLES),
    "k_anon_docs": (q_k_anon_docs, SQL_K_ANON_DOCS),
    "prefix_jaccard_pairs": (q_prefix_jaccard_pairs, SQL_PREFIX_JACCARD_PAIRS),
    "source_cosine": (q_source_cosine, SQL_SOURCE_COSINE),
    "homoglyph_spoof": (q_homoglyph_spoof, SQL_HOMOGLYPH_SPOOF),
    "neyman_plan": (q_neyman_plan, SQL_NEYMAN_PLAN),
    "contract_checks": (q_contract_checks, SQL_CONTRACT_CHECKS),
    "log_quantile_sketch": (q_log_quantile_sketch, SQL_LOG_QUANTILE_SKETCH),
    "stream_cms": (q_stream_cms, SQL_STREAM_CMS),
    "rbo_source_rankings": (q_rbo_source_rankings, SQL_RBO_SOURCE_RANKINGS),
    "keep_ab_test": (q_keep_ab_test, SQL_KEEP_AB_TEST),
    "vocab_coverage": (q_vocab_coverage, SQL_VOCAB_COVERAGE),
    "cdc_docs": (q_cdc_docs, SQL_CDC_DOCS),
    "emd_length_drift": (q_emd_length_drift, SQL_EMD_LENGTH_DRIFT),
    "doc_novelty": (q_doc_novelty, SQL_DOC_NOVELTY),
    "term_adaptation": (q_term_adaptation, SQL_TERM_ADAPTATION),
    "bigram_cond_entropy": (q_bigram_cond_entropy, SQL_BIGRAM_COND_ENTROPY),
    "local_clustering": (q_local_clustering, SQL_LOCAL_CLUSTERING),
    "dup_rate_by_source": (q_dup_rate_by_source, SQL_DUP_RATE_BY_SOURCE),
    "hill_tail": (q_hill_tail, SQL_HILL_TAIL),
    "simpson_probe": (q_simpson_probe, SQL_SIMPSON_PROBE),
    "trending_terms": (q_trending_terms, SQL_TRENDING_TERMS),
    "vocab_growth": (q_vocab_growth, SQL_VOCAB_GROWTH),
    "mix_rate_decomposition": (q_mix_rate_decomposition, SQL_MIX_RATE_DECOMPOSITION),
    "page_churn_census": (q_page_churn_census, SQL_PAGE_CHURN_CENSUS),
    "keep_discriminative_terms": (q_keep_discriminative_terms, SQL_KEEP_DISCRIMINATIVE_TERMS),
    "theta_vocab_by_source": (q_theta_vocab_by_source, SQL_THETA_VOCAB_BY_SOURCE),
    "theta_vocab_overlap": (q_theta_vocab_overlap, SQL_THETA_VOCAB_OVERLAP),
    "label_prop_communities": (q_label_prop_communities, _sql_label_prop),
    "cocitation_pairs": (q_cocitation_pairs, SQL_COCITATION_PAIRS),
    "cdc_chunk_census": (q_cdc_chunk_census, SQL_CDC_CHUNK_CENSUS),
    "linear_probe_train": (q_linear_probe_train, SQL_LINEAR_PROBE_TRAIN),
    "trustrank_links": (q_trustrank_links, _sql_trustrank),
    "dedup_cc_best": (q_dedup_cc_best, SQL_DEDUP_CC_BEST),
    "bpe_merges": (q_bpe_merges, SQL_BPE_MERGES),
    "stream_dedup": (q_stream_dedup, SQL_STREAM_DEDUP),
    "quantile_normalize": (q_quantile_normalize, SQL_QUANTILE_NORMALIZE),
    "dsir_weights": (q_dsir_weights, SQL_DSIR_WEIGHTS),
    "bigram_lm_ppl": (q_bigram_lm_ppl, SQL_BIGRAM_LM_PPL),
    "conformal_bounds": (q_conformal_bounds, SQL_CONFORMAL_BOUNDS),
    "coverage_select": (q_coverage_select, SQL_COVERAGE_SELECT),
    "lsh_recall_eval": (q_lsh_recall_eval, SQL_LSH_RECALL_EVAL),
    "split_by_cluster": (q_split_by_cluster, SQL_SPLIT_BY_CLUSTER),
    "hashed_tf_knn": (q_hashed_tf_knn, SQL_HASHED_TF_KNN),
    "slot_apportionment": (q_slot_apportionment, SQL_SLOT_APPORTIONMENT),
    "dedup_family_kappa": (q_dedup_family_kappa, _sql_dedup_family_kappa),
    "filter_cascade_plan": (q_filter_cascade_plan, SQL_FILTER_CASCADE_PLAN),
    "keep_rate_wilson": (q_keep_rate_wilson, SQL_KEEP_RATE_WILSON),
    "term_burstiness": (q_term_burstiness, SQL_TERM_BURSTINESS),
    "dedup_cc_incr": (q_dedup_cc_incr, SQL_DEDUP_CC_INCR),
    "lsh_candidate_forecast": (q_lsh_candidate_forecast, SQL_LSH_CANDIDATE_FORECAST),
    "dedup_audit_sample": (q_dedup_audit_sample, _sql_dedup_audit_sample),
    "winnow_overlap": (q_winnow_overlap, SQL_WINNOW_OVERLAP),
    "bpe_fertility": (q_bpe_fertility, SQL_BPE_FERTILITY),
    "flesch_reading": (q_flesch_reading, SQL_FLESCH_READING),
    "ks_length_drift": (q_ks_length_drift, SQL_KS_LENGTH_DRIFT),
    "triangle_census": (q_triangle_census, SQL_TRIANGLE_CENSUS),
    "containment_pairs": (q_containment_pairs, SQL_CONTAINMENT_PAIRS),
    "script_profile": (q_script_profile, _script_profile_sql),
    "minhash_calibration": (q_minhash_calibration, SQL_MINHASH_CALIBRATION),
    "boilerplate_prefix": (q_boilerplate_prefix, SQL_BOILERPLATE_PREFIX),
    "keep_rate_curve": (q_keep_rate_curve, _sql_keep_rate_curve),
    "unigram_kl_drift": (q_unigram_kl_drift, SQL_UNIGRAM_KL_DRIFT),
    "dedup_provenance": (q_dedup_provenance, _sql_dedup_provenance),
    "stream_gopher_score": (q_stream_gopher_score, SQL_STREAM_GOPHER_SCORE),
    "keep_rate_by_lang": (q_keep_rate_by_lang, _sql_keep_rate_by_lang),
    "redirect_resolve": (q_redirect_resolve, SQL_REDIRECT_RESOLVE),
    "phrase_search": (q_phrase_search, SQL_PHRASE_SEARCH),
    "bm25_topk": (q_bm25_topk, _sql_bm25_topk),
    "phrase_search_indexed": (q_phrase_search_indexed, SQL_PHRASE_SEARCH),
    "snapshot_diff": (q_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "zorder_values": (q_zorder_values, _sql_zorder_values),
    "chunk_plan_strided": (q_chunk_plan_strided, SQL_CHUNK_STRIDED),
    "mixture_temperature": (q_mixture_temperature, SQL_MIXTURE_TEMPERATURE),
    "dedup_exact_best": (q_dedup_exact_best, SQL_DEDUP_EXACT_BEST),
    "incremental_curation_e2e": (q_incremental_curation_e2e, _sql_incremental_curation),
    "dup_cross_source": (q_dup_cross_source, _dup_cross_source_sql),
    "s3_stratified_sample": (q_s3_stratified_sample, SQL_S3_STRATIFIED),
    "s3_fixed_n_per_group": (q_s3_fixed_n_per_group, SQL_S3_FIXED_N),
    "p5_uid64": (q_p5_uid64, SQL_P5_UID64),
    "p7_scrub": (q_p7_scrub, _scrub_sql),
    "score_core": (q_score_core, _sql_score_core),
    "cot_envelope": (q_cot_envelope, _sql_cot_envelope),
    "cot_enhanced": (q_cot_enhanced, _sql_cot_enhanced),
    "gen_fanout": (q_gen_fanout, SQL_GEN_FANOUT),
    "stream_windowed_agg": (q_stream_windowed_agg, SQL_STREAM_WINDOWED_AGG),
    "sink_roundtrip": (q_sink_roundtrip, SQL_SINK_ROUNDTRIP),
    "s8_output_naming": (q_s8_output_naming, SQL_S8_OUTPUT_NAMING),
    "pipeline_score_documents": (q_pipeline_score_documents, None),
    "dedup_minhash_full": (q_dedup_minhash_full, SQL_DEDUP_MINHASH_FULL),
    "dedup_simhash": (q_dedup_simhash, _sql_dedup_simhash),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL),
}

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_map() -> dict[str, str]:
    return {name: twin() if callable(twin) else twin
            for name, (_, twin) in _REGISTRY.items() if twin is not None}
