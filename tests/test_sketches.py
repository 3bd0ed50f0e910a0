"""Invariants of the round-5 curation and metrics operators that the
DuckDB twins cannot see: Gini (operators/curation.py) hits its
closed-form extremes, weighted reservoir sampling is exact-k and
weight-biased, mutual information and FD discovery hit their extremes,
prefix filtering matches brute force, and the decimal-exact operators
give bit-identical results at any parallelism. Value-level cross-engine
identity is pinned by the twins in plans/entry_queries.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from xdan_dqa_spark.operators.curation import gini_concentration


def test_gini_extremes(spark):
    even = spark.createDataFrame(
        [(f"s{i % 4}",) for i in range(400)], "source string")
    g_even = gini_concentration(even, "source").collect()[0]
    assert g_even["n_groups"] == 4
    assert g_even["gini"] == 0.0
    skewed = spark.createDataFrame(
        [("whale",)] * 997 + [("a",), ("b",), ("c",)], "source string")
    g_skew = gini_concentration(skewed, "source").collect()[0]
    assert g_skew["gini"] > 0.7
    # weighted variant agrees with counts when the weight is constant 1
    even1 = even.withColumn("w", F.lit(1.0))
    g_w = gini_concentration(even1, "source", weight_col="w").collect()[0]
    assert g_w["gini"] == 0.0


# ---- batch 40: weighted reservoir, MI, FD discovery ----


def test_wrs_exact_k_weight_bias_and_partition_invariance(spark):
    from xdan_dqa_spark.sources.readers import weighted_reservoir_topk

    rows = ([(i, 1000) for i in range(50)]          # heavy
            + [(i, 1) for i in range(50, 1050)])    # light
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = weighted_reservoir_topk(df, 40, "w").collect()
    assert len(got) == 40
    heavy = sum(1 for r in got if r["doc_id"] < 50)
    # heavy ids hold ~98% of total weight; expect the sample dominated
    # by them (binomial slack)
    assert heavy >= 30
    re = weighted_reservoir_topk(df.repartition(17), 40, "w").collect()
    assert sorted(r["doc_id"] for r in got) == sorted(r["doc_id"] for r in re)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        weighted_reservoir_topk(df, 0, "w")


def test_wrs_excludes_nonpositive_weights(spark):
    from xdan_dqa_spark.sources.readers import weighted_reservoir_topk

    df = spark.createDataFrame(
        [(1, 5), (2, 0), (3, -2), (4, 5)], "doc_id long, w long")
    got = sorted(r["doc_id"] for r in weighted_reservoir_topk(df, 10, "w").collect())
    assert got == [1, 4]


def test_mutual_information_extremes(spark):
    from xdan_dqa_spark.operators.metrics import mutual_information

    # independent + balanced: every cell term is ln(1) = 0
    indep = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "uv" for _ in range(25)],
        "a string, b string")
    r = mutual_information(indep, "a", "b").collect()[0]
    assert r["mi_nats"] == 0.0 and r["n_cells"] == 4
    # b == a: MI = H(a) = ln 2 for a balanced binary column
    dep = spark.createDataFrame(
        [(a, a) for a in "xy" for _ in range(50)], "a string, b string")
    r2 = mutual_information(dep, "a", "b").collect()[0]
    import math
    assert abs(r2["mi_nats"] - math.log(2)) < 1e-6


def test_fd_discovery_census(spark):
    from xdan_dqa_spark.operators.metrics import fd_discovery

    # city -> country holds; country -> city violated
    rows = [("paris", "fr"), ("lyon", "fr"), ("rome", "it"),
            ("paris", "fr"), ("rome", "it")]
    df = spark.createDataFrame(rows, "city string, country string")
    got = {(r["lhs"], r["rhs"]): (r["n_violating"], r["holds"])
           for r in fd_discovery(df, ["city", "country"]).collect()}
    assert got[("city", "country")] == (0, True)
    assert got[("country", "city")][0] == 1 and not got[("country", "city")][1]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        fd_discovery(df, ["city"])


# ---- batch 42: k-anonymity, prefix filter ----


def test_k_anonymity_census_counts_risk(spark):
    from xdan_dqa_spark.operators.metrics import k_anonymity_census

    rows = ([("en", 1, "a")] * 10          # class of 10, 1 sensitive value
            + [("en", 2, "a"), ("en", 2, "b"), ("en", 2, "c")]  # class of 3
            + [("fr", 1, "a")])            # singleton
    df = spark.createDataFrame(rows, "lang string, b long, s string")
    r = k_anonymity_census(df, ["lang", "b"], k=5, sensitive_col="s").collect()[0]
    assert r["n_classes"] == 3 and r["n_rows"] == 14
    assert r["n_classes_below_k"] == 2 and r["n_rows_at_risk"] == 4
    assert r["min_class_size"] == 1 and r["min_l"] == 1
    import pytest as _pytest
    with _pytest.raises(ValueError):
        k_anonymity_census(df, [], k=5)


def test_prefix_filter_matches_bruteforce(spark):
    """Recall 1.0 is the contract: prefix-filtered pairs == the full
    quadratic token-set Jaccard join on a small corpus."""
    from itertools import combinations

    from xdan_dqa_spark.operators.dedup import prefix_filter_pairs

    texts = {
        1: "a b c d e",
        2: "a b c d f",        # J(1,2) = 4/6
        3: "a b c d e",        # J(1,3) = 1
        4: "x y z",
        5: "x y z w",          # J(4,5) = 3/4
        6: "q r s t u v",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {(r["a"], r["b"]): r["n_shared"]
           for r in prefix_filter_pairs(df, threshold_num=2,
                                        threshold_den=3).collect()}

    def jac(x, y):
        sx, sy = set(texts[x].split()), set(texts[y].split())
        return len(sx & sy), len(sx | sy)

    want = {}
    for x, y in combinations(sorted(texts), 2):
        c, u = jac(x, y)
        if c * 3 >= 2 * u:
            want[(x, y)] = c
    assert got == want
    import pytest as _pytest
    with _pytest.raises(ValueError):
        prefix_filter_pairs(df, threshold_num=0, threshold_den=3)


# ---- batch 44: homoglyphs ----


def test_homoglyph_census_flags_only_spoofed(spark):
    from xdan_dqa_spark.operators.curation import (
        homoglyph_census,
        homoglyph_fold,
    )

    rows = [(1, "plain ascii text", "s1"),
            (2, "pаypаl login", "s1"),     # Cyrillic а
            (3, "οpen accοunt", "s2"),      # Greek ο
            (4, None, "s2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: (r["n_docs"], r["n_spoofed"])
           for r in homoglyph_census(df).collect()}
    assert got == {"s1": (2, 1), "s2": (2, 1)}
    folded = df.select(homoglyph_fold(F.col("text")).alias("f")).collect()
    assert folded[1]["f"] == "paypal login"


# ---- cross-cutting: repartition invariance of round-5 operators ----


def test_round5_operators_repartition_invariant(spark):
    """The determinism contract behind every oracle pairing: rounded-
    decimal sums, integer fixed-point, and struct-max argmins must give
    BIT-IDENTICAL results at any parallelism. One fixture, two
    operators, 1 vs 13 partitions."""

    from xdan_dqa_spark.operators.curation import gini_concentration
    from xdan_dqa_spark.operators.metrics import mutual_information

    rows = []
    for i in range(2000):
        rows.append((i, f"s{i % 7}", "en" if i % 3 else "fr",
                     100 + (i * 37) % 900, float(i % 250), i % 2 == 0))
    df = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, n_chars long, "
              "value double, ref boolean")
    variants = [df.coalesce(1), df.repartition(13)]

    def run(d):
        return (
            tuple(map(tuple, gini_concentration(d, "source").collect())),
            tuple(map(tuple, mutual_information(d, "lang", "source").collect())),
        )

    a, b = run(variants[0]), run(variants[1])
    assert a == b
