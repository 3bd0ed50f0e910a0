"""Sketch invariants (operators/sketches.py): HyperLogLog must land
within its theoretical error band and its register state must merge by
max; count-min must never undercount; theta samples must intersect as
sets; Gini (operators/curation.py) hits its closed-form extremes.
Value-level cross-engine identity is pinned by the DuckDB twins
(hll_vocab / cms_terms / gini_sources in plans/entry_queries.py);
these tests pin the probabilistic contracts and merge algebra the
oracle can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xdan_dqa_spark.operators.sketches import (
    HLL_M,
    cms_heavy_hitters,
    cms_table,
    hll_estimate,
    hll_registers,
)
from xdan_dqa_spark.operators.curation import gini_concentration


@pytest.fixture(scope="module")
def keys10k(spark):
    return spark.range(10_000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("v")
    ).cache()


def test_hll_within_theoretical_error(spark, keys10k):
    row = hll_estimate(keys10k, "v").collect()[0]
    assert row["exact_distinct"] == 10_000
    assert row["m"] == HLL_M
    # standard error is 1.04/sqrt(m) ~= 6.5%; allow 4 sigma
    assert abs(row["rel_error"]) < 4 * 1.04 / (HLL_M ** 0.5)
    assert abs(row["hll_estimate"] / 10_000.0 - 1.0) < 0.26


def test_hll_duplicate_insensitive(spark, keys10k):
    dup = keys10k.union(keys10k).union(keys10k)
    a = hll_estimate(keys10k, "v").collect()[0]
    b = hll_estimate(dup, "v").collect()[0]
    assert a["hll_estimate"] == b["hll_estimate"]
    assert a["n_zero_registers"] == b["n_zero_registers"]


def test_hll_registers_merge_by_max(spark):
    """The whole point of the sketch at 100 TB: shard register tables
    merge with a plain max() and equal the single-pass registers."""
    half1 = spark.range(0, 5_000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("v"))
    half2 = spark.range(5_000, 10_000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("v"))
    merged = (
        hll_registers(half1, "v").unionByName(hll_registers(half2, "v"))
        .groupBy("idx").agg(F.max("rho").alias("rho"))
    )
    whole = hll_registers(half1.union(half2), "v")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect()))


def test_hll_small_range_linear_counting(spark):
    """Tiny cardinalities route through the linear-counting branch and
    come out near-exact (that's why the branch exists)."""
    tiny = spark.range(30).select(F.col("id").cast("string").alias("v"))
    row = hll_estimate(tiny, "v").collect()[0]
    assert row["exact_distinct"] == 30
    assert abs(row["hll_estimate"] - 30.0) < 4.0
    assert row["n_zero_registers"] > 0


def test_cms_never_undercounts_and_is_exact_on_sparse_streams(spark):
    words = (["alpha"] * 500 + ["beta"] * 200 + ["gamma"] * 50
             + [f"tail-{i}" for i in range(100)])
    df = spark.createDataFrame([(w,) for w in words], "v string")
    out = {r["value"]: r for r in cms_heavy_hitters(df, "v", top_k=3).collect()}
    assert set(out) == {"alpha", "beta", "gamma"}
    for r in out.values():
        assert r["cms_estimate"] >= r["true_cnt"]
        assert r["overcount"] == r["cms_estimate"] - r["true_cnt"]
    # 103 distinct values over 4x1024 counters: heads collide with the
    # tail only rarely; the heavy estimates stay within the eps*N bound
    n = len(words)
    eps = 2.718281828 / 1024
    for r in out.values():
        assert r["overcount"] <= eps * n + 1


def test_cms_table_state_is_bounded(spark):
    big = spark.range(50_000).select(
        (F.col("id") % 997).cast("string").alias("v"))
    cells = cms_table(big, "v")
    assert cells.count() <= 4 * 1024
    # cell-wise sums conserve the stream length per row
    per_row = cells.groupBy("row_id").agg(F.sum("cnt").alias("s")).collect()
    assert all(r["s"] == 50_000 for r in per_row)


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


# ---- batch 41: negatives ----


def test_negative_samples_contract(spark):
    from xdan_dqa_spark.operators.curation import negative_samples

    docs = spark.createDataFrame(
        [(i, "s" + str(i % 2)) for i in range(200)], "doc_id long, source string")
    out = negative_samples(docs, n_negatives=3).collect()
    src = {i: "s" + str(i % 2) for i in range(200)}
    for r in out:
        assert r["negative_id"] != r["anchor_id"]
        assert src[r["negative_id"]] == src[r["anchor_id"]]   # same group
    per_anchor = {}
    for r in out:
        per_anchor.setdefault(r["anchor_id"], set()).add(r["neg_slot"])
    assert all(len(s) <= 3 for s in per_anchor.values())
    again = negative_samples(docs.repartition(7), n_negatives=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


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


# ---- batch 44: homoglyphs, Neyman ----


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


def test_neyman_allocation_proportional_and_zero_variance(spark):
    from xdan_dqa_spark.operators.metrics import neyman_allocation

    rows = ([("a", float(v)) for v in (1, 9) * 50]      # sd 4, n 100
            + [("b", float(v)) for v in (1, 9) * 50]    # identical
            + [("c", 5.0)] * 100)                       # sd 0
    df = spark.createDataFrame(rows, "g string, y double")
    df = df.withColumn("y", F.col("y").cast("long"))
    got = {r["stratum"]: r for r in
           neyman_allocation(df, "g", "y", total_k=100).collect()}
    assert got["a"]["alloc_k"] == got["b"]["alloc_k"] == 50
    assert got["c"]["alloc_k"] == 0 and got["c"]["sd"] == 0.0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        neyman_allocation(df, "g", "y", total_k=0)


# ---- batch 45: contract gate ----


def test_contract_report_counts_violations(spark):
    from xdan_dqa_spark.operators.metrics import contract_report

    rows = [(1, "x"), (2, None), (2, "y"), (None, "z")]
    df = spark.createDataFrame(rows, "id long, v string")
    rules = {
        "id_not_null": F.col("id").isNull(),
        "v_not_null": F.col("v").isNull(),
    }
    got = {r["rule"]: (r["n_violations"], r["passed"])
           for r in contract_report(df, rules, unique_cols=["id"]).collect()}
    assert got["id_not_null"] == (1, False)
    assert got["v_not_null"] == (1, False)
    # 4 rows, 3 distinct ids (2 dup + null counts once as a distinct? no:
    # count_distinct ignores NULL -> distinct = {1, 2} = 2 -> 4-2 = 2)
    assert got["unique:id"] == (2, False)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        contract_report(df, {}, unique_cols=[])


# ---- cross-cutting: repartition invariance of round-5 operators ----


def test_round5_operators_repartition_invariant(spark):
    """The determinism contract behind every oracle pairing: rounded-
    decimal sums, integer fixed-point, and struct-max argmins must give
    BIT-IDENTICAL results at any parallelism. One fixture, several
    operators, 1 vs 13 partitions."""

    from xdan_dqa_spark.operators.curation import gini_concentration
    from xdan_dqa_spark.operators.metrics import mutual_information
    from xdan_dqa_spark.operators.sketches import (
        cms_heavy_hitters,
        hll_estimate,
    )

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
            tuple(map(tuple, hll_estimate(d.select(
                F.col("doc_id").cast("string").alias("v")), "v").collect())),
            tuple(sorted(map(tuple, cms_heavy_hitters(d.select(
                F.col("source").alias("v")), "v", top_k=5).collect()))),
        )

    a, b = run(variants[0]), run(variants[1])
    assert a == b


# ---------------------------------------------------------------- theta

def test_theta_intersection_is_sample_of_intersection(spark, keys10k):
    """The theta sketch's defining set identity: because both sides keep
    exactly the values hashing below the SAME fixed threshold,
    sample(A) ∩ sample(B) == sample(A ∩ B) — verified as literal set
    equality, not an estimate tolerance."""
    from xdan_dqa_spark.operators.sketches import theta_sample

    a = keys10k.filter(F.col("v") < "key-7")          # lexicographic slice
    b = keys10k.filter(F.col("v") >= "key-3")
    inter = a.join(b.select("v"), "v", "left_semi")
    lhs = sorted(
        r["h"]
        for r in theta_sample(a, "v").join(
            theta_sample(b, "v").select("h"), "h", "left_semi"
        ).collect()
    )
    rhs = sorted(r["h"] for r in theta_sample(inter, "v").collect())
    assert lhs == rhs and len(rhs) > 0


def test_theta_estimate_within_error_band(spark, keys10k):
    """n=10 000 distinct keys at 1/64 sampling: relative std error is
    ~sqrt(63/n) ≈ 8%; assert the estimate lands within 4 sigma."""
    from xdan_dqa_spark.operators.sketches import theta_distinct_by

    df = keys10k.withColumn("g", F.lit("all"))
    row = theta_distinct_by(df, "v", "g").collect()[0]
    assert row["exact_distinct"] == 10_000
    assert abs(row["theta_estimate"] - 10_000) < 4 * 0.08 * 10_000


def test_theta_set_overlap_counts_at_hash_grain(spark):
    """Two distinct values with one 32-bit theta hash are one sample
    element: the counts are of distinct hashes, as in theta_distinct_by
    and the DuckDB twin, not of distinct values."""
    import hashlib

    from xdan_dqa_spark.operators.sketches import theta_set_overlap

    x, y = "w29709", "w46597"

    def h32(v):
        return int(hashlib.md5(f"th:{v}".encode()).hexdigest()[:8], 16)

    assert x != y and h32(x) == h32(y)
    a = spark.createDataFrame([(x,), (y,)], "v string")
    b = spark.createDataFrame([(x,)], "v string")
    row = theta_set_overlap(a, b, "v", lg_theta=0).collect()[0]
    assert row["est_a"] == 1 and row["est_b"] == 1
    assert row["est_intersect"] == 1 and row["est_a_only"] == 0
    assert row["exact_intersect"] == 1


def test_theta_repartition_invariance(spark, keys10k):
    """Map-side filter + hash-grain distinct: the estimate is a pure
    function of the value SET, so any repartitioning gives bit-identical
    output."""
    from xdan_dqa_spark.operators.sketches import theta_set_overlap

    a = keys10k.filter(F.col("v") < "key-5")
    b = keys10k.filter(F.col("v") >= "key-2")
    r1 = theta_set_overlap(a, b, "v").collect()[0]
    r2 = theta_set_overlap(a.repartition(13), b.repartition(7), "v").collect()[0]
    assert r1 == r2
