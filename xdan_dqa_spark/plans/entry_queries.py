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

# P2 topical category classification (reference DataCategory
# src/models.py:6-15, config/category.yaml:2-41) — deterministic 8-way
# marker-scoring replacement for the LLM's category pick.

def _category_cte_sql(from_table: str = "documents", materialized: bool = False) -> str:
    """WITH-clauses computing s_<cat> scores + the final CASE, reusable by
    every category-bearing oracle query. ``materialized`` evaluates the
    scores once as a table, so DuckDB cannot push a caller's filter on
    them down into the per-marker list_filter expressions."""
    from ..functions.category import category_scores_sql, category_tokens_sql

    score_exprs = ",\n    ".join(
        f"{sql} AS s_{cat.lower()}" for cat, sql in category_scores_sql().items()
    )
    return (
        f"cat_tokens AS (SELECT *, {category_tokens_sql()} AS t FROM {from_table}),\n"
        f"cat_scores AS {'MATERIALIZED ' if materialized else ''}"
        f"(SELECT *, {score_exprs} FROM cat_tokens)"
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
    # Materialized: with its WHERE pushed into the category CTE, DuckDB 1.0
    # took 14 s and 6.3 GB at sf0.001 for these 26 rows; materialized, 0.5 s.
    cats = ", ".join(f"'{c}'" for c in _F1_ALLOWED_CATS)
    return f"""
WITH {_category_cte_sql(materialized=True)}
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
    from ..operators.resume import last_wins_dedup

    df = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = df.withColumn("ingest_order", F.lit(1)).withColumn("payload", F.col("text"))
    v2 = (
        df.filter(F.pmod(F.col("doc_id"), 3) == 0)
        .withColumn("ingest_order", F.lit(2))
        .withColumn("payload", F.concat(F.lit("v2:"), F.col("text")))
    )
    unioned = v1.unionByName(v2)
    return last_wins_dedup(unioned, order_col="ingest_order").select(
        "doc_id", "ingest_order", F.md5(F.col("payload")).alias("payload_md5"))


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
# the min over the keys of (a_j·x + b_j) mod (2^61 − 1), written with the
# operator's own hash text (dedup.minhash_hash_sql); a band key is the
# list of its 2 min-hashes (4 bands × 2 rows). A blank text is the one
# shingle '' as in Spark (DuckDB's array_to_string of an empty list is
# NULL, hence the coalesce).
_SHINGLES_SQL = f"""
CASE WHEN len({_WORDS_WS_SQL}) < 3
     THEN [coalesce(array_to_string({_WORDS_WS_SQL}, ' '), '')]
     ELSE [array_to_string(({_WORDS_WS_SQL})[i:i+2], ' ')
           FOR i IN range(1, len({_WORDS_WS_SQL}) - 1)]
END
"""


def _minhash_sql(j: int) -> str:
    from ..operators.dedup import minhash_hash_sql

    keys = "[CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) FOR s IN sh]"
    return f"list_min([{minhash_hash_sql(j, 'x')} FOR x IN {keys}])"


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
# bounded file-source stream over `events` runs an event-time windowed
# aggregation in COMPLETE output mode with availableNow — deterministic
# end-of-stream state, no watermark cutoff — so the streamed result must
# equal the plain batch GROUP BY bit-for-bit. maxFilesPerTrigger=1 forces one
# micro-batch per input file, so multi-batch incremental state merge is
# what's actually under test (a single-batch run would trivially match).
# The memory sink is the driver-collected correctness harness ONLY.

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
# chunking, sequence packing and the char-diversity gibberish signal.
# The benchmark set is carved
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


# ------------------------------------------------------------- round-5 batch 8
# Within-doc repetition, join-based stopword coverage (the one Gopher
# signal the regex form could not oracle-pair), token entropy, and
# canonical-form dedup.


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


# ------------------------------------------------------------- round-5 batch 9
# Pipeline-health report composed from the already-verified signal
# machinery: per-source PII prevalence by rule.


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


# ------------------------------------------------------------ round-5 batch 11
# Incremental dedup against a persisted band index, then URL- and
# split-level hygiene.


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


# ------------------------------------------------------------ round-5 batch 15
# Distribution-shape health signals: Zipf rank-frequency fit, Flesch
# readability, two-sample KS drift, and asymmetric-containment quote
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


# ------------------------------------------------------------ round-5 batch 37
# Gini source concentration.


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


# ------------------------------------------------------------ round-5 batch 40
# Exact-k weighted sampling, mutual information, and pairwise FD
# discovery.


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


# ------------------------------------------------------------ round-5 batch 44
# Homoglyph spoof census.


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


# ------------------------------------------------------------ round-5 batch 53
# Power-law tail index.


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


# ------------------------------------------------------------ round-5 batch 57
# The later dedup and sampling reports.


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
    "dedup_lev_pairs": (q_dedup_lev_pairs, SQL_DEDUP_LEV),
    "a11_feature_corr": (q_a11_feature_corr, SQL_A11_CORR),
    "boilerplate_shingles": (q_boilerplate_shingles, SQL_BOILERPLATE),
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
    "ngram_repetition": (q_ngram_repetition, SQL_NGRAM_REPETITION),
    "token_entropy": (q_token_entropy, SQL_TOKEN_ENTROPY),
    "stopword_coverage": (
        q_stopword_coverage,
        lambda: SQL_STOPWORD_COVERAGE.replace(
            "{stoplist}", _stopword_list_sql()
        ),
    ),
    "dedup_canonical": (q_dedup_canonical, SQL_DEDUP_CANONICAL),
    "pii_prevalence": (q_pii_prevalence, _pii_prevalence_sql),
    "dedup_minhash_incr": (q_dedup_minhash_incr, SQL_DEDUP_MINHASH_INCR),
    "domain_blocklist_filter": (q_domain_blocklist, SQL_DOMAIN_BLOCKLIST),
    "url_dedup_lastwins": (q_url_dedup, _sql_url_dedup),
    "split_leak_safe": (q_split_leak_safe, SQL_SPLIT_LEAK_SAFE),
    "normalize_punct": (q_normalize_punct, _sql_normalize_punct),
    "zipf_slope": (q_zipf_slope, SQL_ZIPF_SLOPE),
    "gini_sources": (q_gini_sources, SQL_GINI_SOURCES),
    "wrs_sample": (q_wrs_sample, SQL_WRS_SAMPLE),
    "lang_source_mi": (q_lang_source_mi, SQL_LANG_SOURCE_MI),
    "fd_census": (q_fd_census, SQL_FD_CENSUS),
    "k_anon_docs": (q_k_anon_docs, SQL_K_ANON_DOCS),
    "homoglyph_spoof": (q_homoglyph_spoof, SQL_HOMOGLYPH_SPOOF),
    "hill_tail": (q_hill_tail, SQL_HILL_TAIL),
    "cdc_chunk_census": (q_cdc_chunk_census, SQL_CDC_CHUNK_CENSUS),
    "dedup_cc_best": (q_dedup_cc_best, SQL_DEDUP_CC_BEST),
    "quantile_normalize": (q_quantile_normalize, SQL_QUANTILE_NORMALIZE),
    "coverage_select": (q_coverage_select, SQL_COVERAGE_SELECT),
    "lsh_recall_eval": (q_lsh_recall_eval, SQL_LSH_RECALL_EVAL),
    "split_by_cluster": (q_split_by_cluster, SQL_SPLIT_BY_CLUSTER),
    "dedup_cc_incr": (q_dedup_cc_incr, SQL_DEDUP_CC_INCR),
    "lsh_candidate_forecast": (q_lsh_candidate_forecast, SQL_LSH_CANDIDATE_FORECAST),
    "flesch_reading": (q_flesch_reading, SQL_FLESCH_READING),
    "ks_length_drift": (q_ks_length_drift, SQL_KS_LENGTH_DRIFT),
    "containment_pairs": (q_containment_pairs, SQL_CONTAINMENT_PAIRS),
    "script_profile": (q_script_profile, _script_profile_sql),
    "minhash_calibration": (q_minhash_calibration, SQL_MINHASH_CALIBRATION),
    "boilerplate_prefix": (q_boilerplate_prefix, SQL_BOILERPLATE_PREFIX),
    "keep_rate_curve": (q_keep_rate_curve, _sql_keep_rate_curve),
    "unigram_kl_drift": (q_unigram_kl_drift, SQL_UNIGRAM_KL_DRIFT),
    "keep_rate_by_lang": (q_keep_rate_by_lang, _sql_keep_rate_by_lang),
    "chunk_plan_strided": (q_chunk_plan_strided, SQL_CHUNK_STRIDED),
    "mixture_temperature": (q_mixture_temperature, SQL_MIXTURE_TEMPERATURE),
    "dedup_exact_best": (q_dedup_exact_best, SQL_DEDUP_EXACT_BEST),
    "s3_stratified_sample": (q_s3_stratified_sample, SQL_S3_STRATIFIED),
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
