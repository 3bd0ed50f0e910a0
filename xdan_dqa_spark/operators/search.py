"""Retrieval operators over document tables: positional phrase search
and BM25 ranking — the corpus-inspection surface a curation team uses to
audit what a filter kept ("show me every page containing this exact
phrase", "rank pages for this query"). The reference scores documents in
isolation (src/processor.py) and has no search surface; this module is
part of the beyond-reference LLM-pipeline layer (SURVEY.md §2.6).

Spark-first shapes: phrase search is a positional posting-list join that
FILTERS to the phrase's terms before any shuffle (the postings of two
terms, never the corpus); BM25 is two bounded aggregates plus a
TakeOrdered top-k. Cross-engine float discipline as everywhere else:
per-term BM25 contributions are rounded and DECIMAL-summed (order-free),
the final score is one fixed IEEE sequence, ranking ties break on the
integral doc id.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import WS_PLUS


def _words(text_col: str) -> F.Column:
    return F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), WS_PLUS),
        lambda w: F.length(w) > 0,
    )


def phrase_search(df: DataFrame, phrase: str, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Exact-phrase search via a positional index: docs where the
    phrase's words occur at CONSECUTIVE token positions, with the match
    count. Returns (doc_id, n_matches), matches ≥ 1.

    Scale shape: posexplode builds (doc, pos, term) postings, but each
    leg of the join is filtered to ONE phrase term before any exchange —
    the join touches the phrase terms' posting lists, never the corpus
    token stream. Consecutiveness is an equi-join on the ALIGNED start
    position (pos − i for word i), so an n-word phrase is n−1 hash
    joins on (doc, start); no window, no per-doc state. Overlapping
    matches count separately ("a a a" matches "a a" twice), matching
    the SQL twin's semantics exactly."""
    terms = [w for w in phrase.split() if w]
    if not terms:
        raise ValueError("phrase must contain at least one word")
    ex = df.select(
        F.col(id_col),
        F.posexplode(_words(text_col)).alias("pos", "term"),
    )
    legs = [
        ex.filter(F.col("term") == w).select(
            F.col(id_col), (F.col("pos") - i).alias("p0")
        )
        for i, w in enumerate(terms)
    ]
    joined = legs[0]
    for leg in legs[1:]:
        joined = joined.join(leg, [id_col, "p0"])
    return joined.groupBy(id_col).agg(F.count("*").alias("n_matches"))


def bm25_topk(df: DataFrame, query_terms: list[str], k: int = 20,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-k documents for a bag-of-words query under BM25 (the
    Robertson–Spärck Jones ranking every search stack defaults to).
    idf = ln(1 + (N − df + 0.5)/(df + 0.5)); per-term contribution
    idf · tf(k1+1) / (tf + k1(1 − b + b·dl/avgdl)). Returns
    (doc_id, score) — deterministic ties broken by doc id.

    Scale shape: document lengths are one map-only projection; corpus
    stats (N, total length) one 1-row broadcast; term frequencies come
    from postings FILTERED to the query's terms before the aggregate
    (the tf table is |query| terms × matching docs, never the vocab);
    document frequency is a ≤|query|-row aggregate over that same
    table, broadcast back. Top-k is orderBy+limit — TakeOrdered
    per-partition heaps, no global sort.

    Determinism: every input to the score is an integer count or an
    exactly-derived double (avgdl = two integer sums divided once), the
    per-term contribution is a fixed IEEE sequence rounded to 9 dp, and
    the per-doc sum rides DECIMAL — so scores, hence the ranked SET,
    are bit-identical in any engine at any parallelism."""
    terms = sorted({w for w in query_terms if w})
    if not terms:
        raise ValueError("query_terms must contain at least one word")
    lens = df.select(F.col(id_col), F.size(_words(text_col)).cast("long").alias("dl"))
    stats = lens.agg(
        F.count("*").alias("_N"), F.sum("dl").alias("_L")
    )
    ex = df.select(F.col(id_col), F.explode(_words(text_col)).alias("term"))
    tf = (
        ex.filter(F.col("term").isin(terms))
        .groupBy(F.col(id_col), F.col("term"))
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    j = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("_L").cast("double") / F.col("_N").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_N").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    denom = tfd + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl").cast("double") / avgdl
    )
    contrib = F.round(idf * tfd * F.lit(k1 + 1.0) / denom, 9)
    scored = j.groupBy(id_col).agg(
        F.round(F.sum(contrib.cast("decimal(28,9)")).cast("double"), 6).alias("score")
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def bm25_idf(n_docs: int, doc_freq: int) -> float:
    """Reference scalar for tests: the same idf the column expr computes."""
    return math.log(1.0 + (n_docs - doc_freq + 0.5) / (doc_freq + 0.5))


def posting_index_write(df: DataFrame, path: str, text_col: str = "text",
                        id_col: str = "doc_id", n_buckets: int = 64,
                        mode: str = "overwrite") -> None:
    """Persist the corpus positional posting lists to parquet,
    hive-partitioned by a term-hash bucket — the search-side analogue
    of minhash_index_write / the IVF index: at 100 TB you tokenize the
    corpus ONCE and append each ingested batch (``mode="append"``),
    and every query prunes to its terms' bucket directories instead of
    re-reading the corpus. Row payload is (term, doc_id, pos) — the
    bucket is a DIRECTORY key only, so probe-side filters on the term
    string still apply within the pruned files. xxhash64 keys the
    bucket (JVM-side, stable across sessions); it never needs a DuckDB
    twin because bucketing is plumbing — the QUERY result is what gets
    oracle-checked."""
    ex = df.select(
        F.col(id_col),
        F.posexplode(_words(text_col)).alias("pos", "term"),
    ).withColumn("bucket", F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)))
    ex.write.partitionBy("bucket").mode(mode).parquet(path)


def phrase_search_indexed(spark, index_path: str, phrase: str,
                          n_buckets: int = 64,
                          id_col: str = "doc_id") -> DataFrame:
    """Exact-phrase search against a persisted posting index
    (:func:`posting_index_write`): reads ONLY the phrase terms' bucket
    directories — Catalyst partition pruning on the hive `bucket=`
    layout, proven like the IVF probe (PartitionFilters in the executed
    plan + input_file_name() over executed rows; ``inputFiles()`` cannot
    show pruning — it reports the full listing) — then the same aligned-position equi-join as
    :func:`phrase_search`. A 2-word query over a 64-bucket index
    touches ≤ 2/64 of the index bytes no matter the corpus size."""
    terms = [w for w in phrase.split() if w]
    if not terms:
        raise ValueError("phrase must contain at least one word")
    idx = spark.read.parquet(index_path)
    # one probe per term: bucket literal prunes partitions, term filter
    # prunes rows within the bucket's files
    legs = []
    for i, w in enumerate(terms):
        leg = (
            idx.filter(
                (F.col("bucket") == F.pmod(F.xxhash64(F.lit(w)), F.lit(n_buckets)))
                & (F.col("term") == w)
            )
            .select(F.col(id_col), (F.col("pos") - i).alias("p0"))
        )
        legs.append(leg)
    joined = legs[0]
    for leg in legs[1:]:
        joined = joined.join(leg, [id_col, "p0"])
    return joined.groupBy(id_col).agg(F.count("*").alias("n_matches"))


def boolean_and_search(df: DataFrame, terms: list[str],
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Boolean AND retrieval: documents containing EVERY term in
    ``terms`` (exact whitespace-token match, the posting-list
    intersection of a classic inverted index). Returns (doc_id,
    n_terms_matched) with n_terms_matched == len(terms) for every row —
    the column exists so a relaxed OR/at-least-k variant is the same
    plan with a different HAVING bound.

    Scale shape: the query term set is a LITERAL isin filter applied at
    the (doc, distinct-term) explode — map-side, no join at all — then
    one combinable fold per doc with HAVING count = k. Distinct-ing the
    tokens per doc BEFORE the explode-filter bounds per-doc output at k
    regardless of term frequency inside the doc. Against a PERSISTED
    posting index (posting_index_write) the same query is k pruned
    partition reads + a count-k fold — this form is the index-free
    single-pass equivalent."""
    if not terms:
        raise ValueError("terms must be non-empty")
    toks = F.array_distinct(_words(text_col))
    ex = df.select(
        F.col(id_col), F.explode(toks).alias("_t")
    ).filter(F.col("_t").isin(list(terms)))
    return (
        ex.groupBy(id_col)
        .agg(F.count("*").alias("n_terms_matched"))
        .filter(F.col("n_terms_matched") == len(terms))
    )
