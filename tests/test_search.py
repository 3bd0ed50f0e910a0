"""Retrieval operators (operators/search.py): positional phrase search
semantics (consecutiveness, overlaps, multi-word) and BM25 ranking
properties (idf monotonicity, length normalization, determinism)."""

from __future__ import annotations

import pytest


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_phrase_search_consecutive_only(spark):
    from xdan_dqa_spark.operators.search import phrase_search

    df = _docs(spark, [
        "the quick brown fox",        # 0: has "quick brown"
        "quick and brown",            # 1: words present, NOT consecutive
        "so quick brown quick brown", # 2: two matches
        "nothing here",               # 3
    ])
    got = {r["doc_id"]: r["n_matches"]
           for r in phrase_search(df, "quick brown").collect()}
    assert got == {0: 1, 2: 2}


def test_phrase_search_overlapping_and_three_words(spark):
    from xdan_dqa_spark.operators.search import phrase_search

    df = _docs(spark, ["a a a a"])
    got = phrase_search(df, "a a a").collect()
    assert got[0]["n_matches"] == 2  # positions 0 and 1 overlap
    assert phrase_search(df, "a b a").count() == 0


def test_bm25_prefers_matching_and_shorter_docs(spark):
    from xdan_dqa_spark.operators.search import bm25_topk

    df = _docs(spark, [
        "apple banana",                            # 0: both terms, short
        "apple banana " + "filler " * 40,          # 1: both terms, long
        "apple pie recipe",                        # 2: one term
        "completely unrelated text",               # 3: no terms
    ])
    rows = bm25_topk(df, ["apple", "banana"], k=10).collect()
    order = [r["doc_id"] for r in rows]
    assert 3 not in order                 # zero-match docs never rank
    assert order[0] == 0                  # short full match wins
    assert order.index(0) < order.index(1)  # length normalization
    assert order.index(1) < order.index(2)  # two terms beat one


def test_bm25_scores_match_scalar_reference(spark):
    import math

    from xdan_dqa_spark.operators.search import bm25_idf, bm25_topk

    df = _docs(spark, ["x y", "x z", "w v"])
    rows = {r["doc_id"]: r["score"]
            for r in bm25_topk(df, ["x"], k=10).collect()}
    # N=3, df(x)=2, every doc dl=2 = avgdl -> denom = tf + k1
    idf = bm25_idf(3, 2)
    want = round(round(idf * 1.0 * 2.2 / (1.0 + 1.2), 9), 6)
    assert rows[0] == pytest.approx(want, abs=1e-9)
    assert rows[0] == rows[1] and 2 not in rows


def test_bm25_repartition_invariant(spark):
    from xdan_dqa_spark.operators.search import bm25_topk

    df = _docs(spark, [f"term{i % 5} filler word{i}" for i in range(100)])
    a = sorted(map(tuple, bm25_topk(df, ["term1", "term3"], k=50).collect()))
    b = sorted(map(tuple,
                   bm25_topk(df.repartition(11), ["term1", "term3"], k=50).collect()))
    assert a == b


def test_indexed_phrase_search_prunes_buckets_and_matches_scan(spark, tmp_path):
    """The persisted posting probe must (a) return exactly what the
    scan-based search returns and (b) READ only the phrase terms\'
    bucket directories — proven the same way as the IVF index probe:
    PartitionFilters in the executed plan (inputFiles() cannot show
    pruning; it reports the full listing) plus input_file_name() over
    an executed probe leg."""
    from pyspark.sql import functions as F

    from xdan_dqa_spark.operators.search import (
        phrase_search, phrase_search_indexed, posting_index_write)

    df = _docs(spark, [
        "alpha beta gamma", "beta alpha beta gamma", "gamma beta alpha",
        "alpha beta", "delta epsilon zeta",
    ])
    path = str(tmp_path / "postings")
    posting_index_write(df, path, n_buckets=16)
    got = phrase_search_indexed(spark, path, "alpha beta", n_buckets=16)
    want = phrase_search(df, "alpha beta")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # (1) every FileScan in the executed probe carries a bucket
    # PartitionFilters entry
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf and all("bucket" in ln for ln in pf), plan

    # (2) an executed single-term leg reads files only under its bucket
    b_alpha = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("alpha")), F.lit(16)).alias("b")
    ).collect()[0]["b"]
    leg = spark.read.parquet(path).filter(
        (F.col("bucket") == F.pmod(F.xxhash64(F.lit("alpha")), F.lit(16)))
        & (F.col("term") == "alpha")
    )
    touched = {
        r[0].split("bucket=")[1].split("/")[0]
        for r in leg.select(F.input_file_name()).distinct().collect()
    }
    assert touched == {str(b_alpha)}


def test_posting_index_append_equals_rebuild(spark, tmp_path):
    """Incremental ingest: indexing batch A then APPENDING batch B must
    answer phrase queries identically to a one-shot rebuild over A∪B —
    the steady-state contract that makes the index worth persisting."""
    from xdan_dqa_spark.operators.search import (
        phrase_search, phrase_search_indexed, posting_index_write)

    a = _docs(spark, ["alpha beta gamma", "beta gamma alpha"])
    b = spark.createDataFrame(
        [(10, "alpha beta again"), (11, "gamma alpha beta")],
        "doc_id long, text string",
    )
    both = a.unionByName(b)
    inc = str(tmp_path / "inc")
    posting_index_write(a, inc, n_buckets=8)
    posting_index_write(b, inc, n_buckets=8, mode="append")
    got = sorted(map(tuple,
                     phrase_search_indexed(spark, inc, "alpha beta",
                                           n_buckets=8).collect()))
    want = sorted(map(tuple, phrase_search(both, "alpha beta").collect()))
    assert got == want and len(got) == 3


def test_boolean_and_search_requires_every_term(spark):
    from xdan_dqa_spark.operators.search import boolean_and_search

    rows = [(1, "join hash vector fast"), (2, "join hash only"),
            (3, "vector join hash join join"), (4, ""), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_terms_matched"]
           for r in boolean_and_search(df, ["join", "hash", "vector"]).collect()}
    assert got == {1: 3, 3: 3}   # doc 3: repeated terms count once

    import pytest as _pytest
    with _pytest.raises(ValueError):
        boolean_and_search(df, [])
