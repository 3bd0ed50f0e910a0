"""Text-analysis operators vs hand-computed oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xdan_dqa_spark.operators.textstats import (
    bpe_ish_token_count,
    doc_fingerprint,
    langid_heuristic_expr,
    text_profile,
    whitespace_token_count,
)


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col.alias("v")).collect()[0]["v"]


def test_token_counts(spark):
    assert _one(spark, "hello world", whitespace_token_count("text")) == 2
    assert _one(spark, "  a  b\tc ", whitespace_token_count("text")) == 3
    assert _one(spark, "", whitespace_token_count("text")) == 0
    # "don't stop 123!" → don, ', t, stop, 123, ! = 6 bpe-ish tokens
    assert _one(spark, "don't stop 123!", bpe_ish_token_count("text")) == 6


def test_fingerprint_normalization(spark):
    a = _one(spark, "Hello   World", doc_fingerprint("text"))
    b = _one(spark, "hello world", doc_fingerprint("text"))
    c = _one(spark, "hello worlds", doc_fingerprint("text"))
    assert a == b and a != c


def test_langid_heuristic(spark):
    assert _one(spark, "the cat and the dog is here", langid_heuristic_expr("text")) == "en"
    assert _one(spark, "el perro que vive en los campos por una casa", langid_heuristic_expr("text")) == "es"
    assert _one(spark, "le chat est dans les jardins je crois", langid_heuristic_expr("text")) == "fr"
    assert _one(spark, "der hund und das haus nicht mit uns", langid_heuristic_expr("text")) == "de"
    assert _one(spark, "xyzzy 12345", langid_heuristic_expr("text")) == "und"


def test_text_profile_on_documents(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    prof = text_profile(docs)
    row = prof.agg(
        F.min("n_ws_tokens"), F.max("quality"), F.count_distinct("fingerprint")
    ).collect()[0]
    assert row[0] >= 0 and row[1] <= 1.0
    assert row[2] > 0


def test_top_terms_counts_and_ties(spark):
    from xdan_dqa_spark.operators.textstats import top_terms

    df = spark.createDataFrame(
        [("a b a",), ("b a c",), (None,), ("d d b",)], "text string"
    )
    rows = top_terms(df, k=3).collect()
    # a:3 b:3 d:2 c:1 — tie at the top broken by term ASC; k cuts c
    assert [(r["term"], r["cnt"]) for r in rows] == [("a", 3), ("b", 3), ("d", 2)]


def test_token_count_quantiles_match_numpy_type7(spark):
    import numpy as np

    from xdan_dqa_spark.operators.textstats import token_count_quantiles

    # groups with even/odd sizes, duplicates, and a singleton stratum
    data = [("en", "w " * n) for n in [1, 2, 2, 3, 10, 50, 50]]
    data += [("fr", "w " * n) for n in [4, 7]]
    data += [("zh", "w " * 9)]
    df = spark.createDataFrame(data, "lang string, text string")
    got = {r["lang"]: (r["p50"], r["p90"], r["p99"])
           for r in token_count_quantiles(df).collect()}
    counts = {"en": [1, 2, 2, 3, 10, 50, 50], "fr": [4, 7], "zh": [9]}
    for lang, vals in counts.items():
        want = np.percentile(np.array(vals, dtype=float), [50, 90, 99],
                             method="linear")
        assert got[lang] == tuple(round(float(w), 6) for w in want), lang


def test_token_count_quantiles_partitioning_invariant(spark):
    from xdan_dqa_spark.operators.textstats import token_count_quantiles

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, token_count_quantiles(docs).collect()))
    b = sorted(map(tuple, token_count_quantiles(docs.repartition(7)).collect()))
    assert a == b


# ------------------------------------------------- exact-moment correlation

def test_feature_correlation_exact_lines(spark):
    from xdan_dqa_spark.operators.metrics import feature_correlation

    rows = (
        # g=pos: y = 3x exactly → r = 1.0 (exact moments, no FP drift)
        [("pos", x, 3 * x) for x in range(1, 50)]
        # g=neg: y = -2x + 1000 → r = -1.0
        + [("neg", x, 1000 - 2 * x) for x in range(1, 50)]
        # g=flat: zero variance in y → guarded 0.0, never NaN/NULL
        + [("flat", x, 7) for x in range(1, 50)]
    )
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r["g"]: (r["n"], r["pearson_r"])
           for r in feature_correlation(df, "x", "y", by="g").collect()}
    # moments are exact; the closed-form division/sqrt still rounds once,
    # so ±1 ulp around the true value is the correct expectation
    assert got["pos"][0] == 49 and abs(got["pos"][1] - 1.0) < 1e-12
    assert got["neg"][0] == 49 and abs(got["neg"][1] + 1.0) < 1e-12
    assert got["flat"] == (49, 0.0)


def test_feature_correlation_order_independent(spark):
    """The moment sums are exact decimals, so the result is bit-identical
    under any partitioning — the property F.corr cannot give."""
    from xdan_dqa_spark.operators.metrics import feature_correlation

    rows = [("g", x, (x * 7919) % 1000) for x in range(1, 400)]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    a = feature_correlation(df, "x", "y", by="g").collect()[0]["pearson_r"]
    b = feature_correlation(df.repartition(13), "x", "y", by="g").collect()[0]["pearson_r"]
    assert a == b


# ------------------------------------------------------ shingle prevalence

def test_shingle_prevalence_hand_computed(spark):
    from xdan_dqa_spark.operators.textstats import shingle_prevalence

    docs = spark.createDataFrame(
        [
            # docs 1 and 2 share the trigram "a b c"; each has one private one
            (1, "a b c d"),          # shingles: "a b c", "b c d"
            (2, "a b c e"),          # shingles: "a b c", "b c e"
            (3, "x y z w"),          # fully private
            (4, "短 文"),             # <3 words → single joined shingle, private
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_shingles"], r["n_shared"], r["shared_frac"])
           for r in shingle_prevalence(docs).collect()}
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (2, 0, 0.0)
    assert got[4] == (1, 0, 0.0)


def test_shingle_prevalence_repeated_shingle_counted_once(spark):
    """A shingle repeated WITHIN one doc is one distinct shingle — it must
    not count as cross-document sharing on its own."""
    from xdan_dqa_spark.operators.textstats import shingle_prevalence

    docs = spark.createDataFrame(
        [(1, "p q r p q r p q r")],  # "p q r" occurs 3×, plus rotations
        "doc_id long, text string",
    )
    row = shingle_prevalence(docs).collect()[0]
    assert row["n_shared"] == 0 and row["shared_frac"] == 0.0


def test_shingle_prevalence_partitioning_invariant(spark):
    from xdan_dqa_spark.operators.textstats import shingle_prevalence

    docs = spark.createDataFrame(
        [(i, f"common prefix words here tail{i} tail{i + 1}") for i in range(40)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, shingle_prevalence(docs).collect()))
    b = sorted(map(tuple, shingle_prevalence(docs.repartition(7)).collect()))
    assert a == b and all(r[2] > 0 for r in a)   # shared prefix shingles detected


# ------------------------------------------------------ lexical diversity

def test_lexical_diversity_hand_computed(spark):
    from xdan_dqa_spark.operators.textstats import lexical_diversity

    docs = spark.createDataFrame(
        [
            (1, "a b a c"),      # tokens 4, types 3 (a:2 b:1 c:1), hapax 2
            (2, "x x x x"),      # tokens 4, types 1, hapax 0
            (3, "one"),          # tokens 1, types 1, hapax 1
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_tokens"], r["n_types"], r["n_hapax"],
                         r["ttr"], r["hapax_ratio"])
           for r in lexical_diversity(docs).collect()}
    assert got[1] == (4, 3, 2, 0.75, round(2 / 3, 9))
    assert got[2] == (4, 1, 0, 0.25, 0.0)
    assert got[3] == (1, 1, 1, 1.0, 1.0)


def test_lexical_diversity_empty_doc_drops(spark):
    from xdan_dqa_spark.operators.textstats import lexical_diversity

    docs = spark.createDataFrame([(1, "  \t "), (2, "w")],
                                 "doc_id long, text string")
    assert [r["doc_id"] for r in lexical_diversity(docs).collect()] == [2]


# ------------------------------------------------------------------ tf-idf

def test_tfidf_top_terms_hand_computed(spark):
    import math

    from xdan_dqa_spark.operators.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana shared"),
            (2, "cherry shared shared"),
        ],
        "doc_id long, text string",
    )
    rows = {(r["doc_id"], r["term"]): r for r in
            tfidf_top_terms(docs, k=2).collect()}
    # doc 1: apple tf=2 df=1 beats banana tf=1 df=1 beats shared tf=1 df=2
    assert set(rows) == {(1, "apple"), (1, "banana"), (2, "shared"), (2, "cherry")}
    r = rows[(1, "apple")]
    assert (r["tf"], r["df"]) == (2, 1)
    assert r["tfidf"] == round(2 * math.log(2 / 1), 6)
    # 'shared' appears in both docs → idf = ln(1) = 0
    assert rows[(2, "shared")]["tfidf"] == 0.0


def test_tfidf_tie_break_and_partitioning_invariant(spark):
    from xdan_dqa_spark.operators.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(1, 9)],
        "doc_id long, text string",
    )
    # all terms tie on (tf=1, df=8) → alphabetical wins
    got = sorted((r["doc_id"], r["term"]) for r in
                 tfidf_top_terms(docs, k=2).collect())
    assert got == sorted([(i, "alpha") for i in range(1, 9)]
                         + [(i, "beta") for i in range(1, 9)])
    again = sorted((r["doc_id"], r["term"]) for r in
                   tfidf_top_terms(docs.repartition(7), k=2).collect())
    assert again == got


# -------------------------------------------------------------------- pmi

def test_pmi_bigrams_hand_computed(spark):
    import math

    from xdan_dqa_spark.operators.textstats import pmi_bigrams

    # "big data" 3×; unigrams: big 3, data 3, plus 2 fillers
    docs = spark.createDataFrame(
        [(1, "big data big data"), (2, "big data filler other")],
        "doc_id long, text string",
    )
    rows = pmi_bigrams(docs, min_count=3, k=5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["x"], r["y"], r["c_xy"], r["c_x"], r["c_y"]) == ("big", "data", 3, 3, 3)
    # T_bi = 3 + 2 + 1 + 2 = ... bigrams: doc1: (big,data),(data,big),(big,data) =3
    # doc2: (big,data),(data,filler),(filler,other) =3 → T_bi=6; T_uni=8
    t_bi, t_u = 6.0, 8.0
    want = math.log((3 / t_bi) / ((3 / t_u) * (3 / t_u)))
    assert r["pmi"] == round(want, 6)


def test_pmi_bigrams_single_word_docs_contribute_no_pairs(spark):
    from xdan_dqa_spark.operators.textstats import pmi_bigrams

    docs = spark.createDataFrame(
        [(i, "solo") for i in range(10)] + [(100, "a b"), (101, "a b")],
        "doc_id long, text string",
    )
    rows = pmi_bigrams(docs, min_count=2, k=5).collect()
    assert [(r["x"], r["y"], r["c_xy"]) for r in rows] == [("a", "b", 2)]


# -------------------------------------------------------------------- MAD

def test_median_abs_deviation_hand_computed(spark):
    from xdan_dqa_spark.operators.textstats import median_abs_deviation

    df = spark.createDataFrame(
        [("a", v) for v in (1, 2, 3, 10)] + [("b", v) for v in (5, 5, 5)],
        "lang string, n_chars long",
    )
    got = {r["lang"]: (r["median_val"], r["mad_val"])
           for r in median_abs_deviation(df).collect()}
    # a: median = 2.5 (type-7), diffs [1.5, 0.5, 0.5, 7.5] → MAD = 1.0
    assert got["a"] == (2.5, 1.0)
    assert got["b"] == (5.0, 0.0)


def test_median_abs_deviation_partitioning_invariant(spark):
    from xdan_dqa_spark.operators.textstats import median_abs_deviation

    df = spark.createDataFrame(
        [("g", (i * 37) % 101) for i in range(50)], "lang string, n_chars long"
    )
    a = median_abs_deviation(df).collect()[0]
    b = median_abs_deviation(df.repartition(7)).collect()[0]
    assert (a["median_val"], a["mad_val"]) == (b["median_val"], b["mad_val"])


def test_ngram_repetition_hand_computed(spark):
    from xdan_dqa_spark.operators.textstats import ngram_repetition

    docs = spark.createDataFrame(
        [
            # "a b c a b c a b c": 7 trigrams, 3 distinct -> 4 dups
            (1, "spam", "a b c a b c a b c"),
            # all-distinct prose: 4 trigrams, 0 dups
            (2, "prose", "the quick brown fox jumps over"),
        ],
        "doc_id long, lang string, text string",
    )
    rows = {r["lang"]: r for r in ngram_repetition(docs, n=3).collect()}
    assert rows["spam"]["n_ngrams"] == 7
    assert rows["spam"]["n_dup_ngrams"] == 4
    assert rows["spam"]["dup_frac"] == pytest.approx(4 / 7, abs=1e-9)
    assert rows["prose"]["n_dup_ngrams"] == 0
    assert rows["prose"]["dup_frac"] == 0.0


def test_token_entropy_extremes(spark):
    import math

    from xdan_dqa_spark.operators.textstats import token_entropy

    docs = spark.createDataFrame(
        [
            (1, "flat", "a a a a"),           # one term -> H = 0
            (2, "even", "a b c d"),           # uniform over 4 -> H = ln 4
            (3, "empty", ""),                 # no tokens -> excluded
        ],
        "doc_id long, lang string, text string",
    )
    rows = {r["lang"]: r for r in token_entropy(docs).collect()}
    assert rows["flat"]["mean_entropy"] == 0.0
    assert rows["even"]["mean_entropy"] == pytest.approx(math.log(4), abs=1e-5)
    assert "empty" not in rows


def test_zipf_slope_near_minus_one_on_zipf_counts(spark):
    """Terms with freq 1000//r at rank r follow Zipf with exponent ~1:
    the fitted ln-ln slope must sit near -1 (the natural-language
    regime the health check expects)."""
    from xdan_dqa_spark.operators.textstats import zipf_slope

    text = " ".join(
        " ".join([f"w{r:02d}"] * (1000 // r)) for r in range(1, 21)
    )
    df = spark.createDataFrame([(1, text, "en")], "doc_id long, text string, lang string")
    row = zipf_slope(df, min_count=5, top_v=200).collect()[0]
    assert row["n_terms"] == 20
    assert abs(row["zipf_slope"] + 1.0) < 0.05


def test_zipf_slope_flat_head_for_uniform_spam(spark):
    """Uniform term frequencies (template spam) fit slope 0 exactly."""
    from xdan_dqa_spark.operators.textstats import zipf_slope

    text = " ".join(" ".join([f"s{r}"] * 50) for r in range(12))
    df = spark.createDataFrame([(1, text, "en")], "doc_id long, text string, lang string")
    row = zipf_slope(df, min_count=5, top_v=200).collect()[0]
    assert row["zipf_slope"] == 0.0


def test_zipf_slope_degenerate_group_is_null(spark):
    from xdan_dqa_spark.operators.textstats import zipf_slope

    df = spark.createDataFrame(
        [(1, " ".join(["only"] * 9), "en")], "doc_id long, text string, lang string"
    )
    row = zipf_slope(df, min_count=5, top_v=200).collect()[0]
    assert row["n_terms"] == 1 and row["zipf_slope"] is None


def test_flesch_reading_ease_exact_value(spark):
    """'The cat sat. The dog ran!': 6 words, 2 sentence runs, 6 vowel
    groups -> 206.835 - 1.015*3 - 84.6*1 = 119.19 exactly."""
    from xdan_dqa_spark.operators.textstats import flesch_reading_ease

    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!", "en"), (2, "   ", "en")],
        "doc_id long, text string, lang string",
    )
    row = flesch_reading_ease(df).collect()[0]
    assert row["n_docs"] == 2 and row["n_docs_skipped"] == 1
    assert row["mean_flesch"] == 119.19


def test_script_profile_counts_and_mixing(spark):
    from xdan_dqa_spark.operators.textstats import script_profile

    df = spark.createDataFrame(
        [
            (1, "hello 世界 world 中文"),     # 10 latin, 4 cjk
            (2, "Привет мир"),               # cyrillic only
            (3, "12345 !!!"),                 # no letters at all
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in script_profile(df).collect()}
    assert got[1]["n_latin"] == 10 and got[1]["n_cjk"] == 4
    assert got[1]["dominant_script"] == "latin"
    assert got[1]["script_mix_ratio"] == round(4 / 14, 9)
    assert got[2]["dominant_script"] == "cyrillic"
    assert got[2]["script_mix_ratio"] == 0.0
    assert got[3]["dominant_script"] == "none"
    assert got[3]["script_mix_ratio"] == 0.0


def test_script_profile_tie_breaks_by_class_priority(spark):
    """Equal Latin and CJK letter counts: the fixed priority order
    (Latin first) must win deterministically."""
    from xdan_dqa_spark.operators.textstats import script_profile

    df = spark.createDataFrame([(1, "ab 中文")], "doc_id long, text string")
    r = script_profile(df).collect()[0]
    assert r["n_latin"] == 2 and r["n_cjk"] == 2
    assert r["dominant_script"] == "latin"
    assert r["script_mix_ratio"] == 0.5


def test_new_stats_are_repartition_invariant(spark, webtext):
    """zipf_slope / flesch / script_profile must be bit-identical at any
    parallelism (decimal sums + fixed IEEE sequences + integral ranks —
    the cross-engine discipline implies cross-partitioning too)."""
    from xdan_dqa_spark.operators.textstats import (
        flesch_reading_ease, script_profile, zipf_slope)

    docs = webtext.selectExpr("xxhash64(url) as doc_id", "text", "lang")
    for fn in (zipf_slope, flesch_reading_ease, script_profile):
        a = sorted(map(tuple, fn(docs.repartition(1)).collect()))
        b = sorted(map(tuple, fn(docs.repartition(13)).collect()))
        assert a == b, fn.__name__


def test_script_profile_fuzz_totals_bounded(spark):
    """Property fuzz: for arbitrary unicode text, per-script counts are
    non-negative, their sum never exceeds the char count, and the mix
    ratio stays in [0, 1) — no crash on surrogate-adjacent input."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from xdan_dqa_spark.operators.textstats import script_profile

    texts = st.lists(
        st.text(max_size=60), min_size=1, max_size=8
    )

    @settings(max_examples=10, deadline=None)
    @given(texts)
    def check(ts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(ts)], "doc_id long, text string"
        )
        for r in script_profile(df).collect():
            counts = [r[c] for c in r.asDict() if c.startswith("n_")]
            assert all(c >= 0 for c in counts)
            assert 0.0 <= r["script_mix_ratio"] < 1.0 or (
                r["script_mix_ratio"] == 0.0
            )

    check()


def test_hill_tail_index_recovers_pareto_alpha(spark):
    """A Pareto(alpha=2) sample via inverse-CDF on a deterministic grid:
    the Hill estimate must land near 2 (the estimator is asymptotically
    unbiased; the grid removes sampling noise)."""

    from xdan_dqa_spark.operators.textstats import hill_tail_index

    # x = xmin * u^(-1/alpha) with u on a uniform grid (0,1)
    alpha = 2.0
    rows = [(i, int(100 * ((i + 0.5) / 5000) ** (-1.0 / alpha)))
            for i in range(5000)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = hill_tail_index(df, k=200).collect()[0]
    assert 1.6 < out["alpha"] < 2.4
    import pytest as _pytest
    with _pytest.raises(ValueError):
        hill_tail_index(df, k=5)
