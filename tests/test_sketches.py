"""Sketch invariants (operators/sketches.py): HyperLogLog must land
within its theoretical error band and its register state must merge by
max; count-min must never undercount; the Bloom filter must have zero
false negatives and a measured false-positive rate near theory; Gini
and CUSUM (operators/curation.py) hit their closed-form extremes.
Value-level cross-engine identity is pinned by the DuckDB twins
(hll_vocab / cms_terms / bloom_custkeys / gini_sources / cusum_drift in
plans/entry_queries.py); these tests pin the probabilistic contracts
and merge algebra the oracle can't see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xdan_dqa_spark.operators.sketches import (
    BLOOM_K,
    HLL_M,
    bloom_build,
    bloom_probe_report,
    bloom_theoretical_fp,
    cms_heavy_hitters,
    cms_table,
    hll_estimate,
    hll_registers,
)
from xdan_dqa_spark.operators.curation import (
    cusum_changepoint,
    gini_concentration,
)


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


def test_bloom_no_false_negatives_and_fp_near_theory(spark):
    build = spark.range(2_000).select(
        F.concat(F.lit("in-"), F.col("id")).alias("k"))
    probe_in = build
    probe_out = spark.range(20_000).select(
        F.concat(F.lit("out-"), F.col("id")).alias("k"))
    rep_in = bloom_probe_report(build, "k", probe_in, "k").collect()[0]
    assert rep_in["n_claimed_present"] == rep_in["n_probes"] == 2_000
    assert rep_in["n_false_positives"] == 0
    rep_out = bloom_probe_report(build, "k", probe_out, "k").collect()[0]
    assert rep_out["n_actually_present"] == 0
    theory = bloom_theoretical_fp(2_000)
    # 20k negative probes: the measured rate should be within ~3x of
    # theory (binomial noise at this sample size is far tighter; the
    # slack covers md5's mild non-uniformity over structured keys)
    assert rep_out["fp_rate"] <= 3 * theory + 1e-4
    assert rep_out["n_claimed_present"] == rep_out["n_false_positives"]


def test_bloom_bitset_is_bounded_and_broadcast(spark):
    build = spark.range(3_000).select(F.col("id").cast("string").alias("k"))
    bits = bloom_build(build, "k")
    n_bits = bits.count()
    assert n_bits <= min(65_536, 3_000 * BLOOM_K)
    probe = spark.range(100).select(F.col("id").cast("string").alias("k"))
    plan = (
        bloom_probe_report(build, "k", probe, "k")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


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


def test_cusum_finds_injected_level_shift(spark):
    # 30 days at 10/day, then 30 days at 50/day: the max |D_t| of a
    # clean step function sits exactly at the step boundary (day 30)
    import datetime as dt

    rows = []
    for d in range(60):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=d)
        rows.append(("feed", f"{day} 00:00:00", 10.0 if d < 30 else 50.0))
    df = spark.createDataFrame(rows, "event_type string, ts string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    out = cusum_changepoint(df).collect()[0]
    assert out["n_days"] == 60
    assert str(out["changepoint_day"]) == "2024-01-30"
    # D_30 = n*P_30 - 30*T = 60*300 - 30*1800 = -36000 -> /n = 600
    assert out["max_abs_cusum"] == 600.0


def test_cusum_flat_series_is_null_signal(spark):
    rows = [("flat", f"2024-03-{d + 1:02d} 12:00:00", 7.0) for d in range(20)]
    df = spark.createDataFrame(rows, "event_type string, ts string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    out = cusum_changepoint(df).collect()[0]
    assert out["max_abs_cusum"] == 0.0


# ---- batch 40: weighted reservoir, spike z, MI, FD discovery ----


def test_wrs_exact_k_weight_bias_and_partition_invariance(spark):
    from xdan_dqa_spark.operators.curation import gini_concentration  # noqa: F401
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


def test_spike_zscore_flags_injected_burst(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from xdan_dqa_spark.operators.sessions import daily_spike_zscore

    rows = []
    for d in range(10):
        day = dt.date(2024, 5, 1) + dt.timedelta(days=d)
        n = 100 if d != 8 else 500          # burst on day index 8
        jitter = d % 3                       # baseline variance > 0
        for i in range(n + jitter):
            rows.append(("click", f"{day} 01:00:00"))
    df = spark.createDataFrame(rows, "event_type string, ts string")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    out = {str(r["day"]): r["z"] for r in daily_spike_zscore(df).collect()}
    # first 7 days have no complete trailing window
    assert len(out) == 3
    assert out["2024-05-09"] > 5          # the burst
    assert abs(out["2024-05-08"]) < 3


def test_spike_zscore_zero_variance_guard(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from xdan_dqa_spark.operators.sessions import daily_spike_zscore

    rows = []
    for d in range(9):
        day = dt.date(2024, 6, 1) + dt.timedelta(days=d)
        rows += [("flat", f"{day} 01:00:00")] * 10
    df = spark.createDataFrame(rows, "event_type string, ts string")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    zs = [r["z"] for r in daily_spike_zscore(df).collect()]
    assert zs and all(z == 0.0 for z in zs)


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


# ---- batch 41: Theil-Sen, paths, CMS join estimate, PSI, negatives ----


def test_theilsen_exact_on_linear_and_robust_to_outlier(spark):
    import datetime as dt

    from xdan_dqa_spark.operators.sessions import theilsen_daily_trend

    rows = []
    for d in range(12):
        day = dt.date(2024, 7, 1) + dt.timedelta(days=d)
        n = 10 + 5 * d if d != 6 else 500     # linear +5/day, one glitch day
        rows += [("feed", f"{day} 01:00:00")] * n
    df = spark.createDataFrame(rows, "event_type string, ts string")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    out = theilsen_daily_trend(df).collect()[0]
    assert out["n_days"] == 12 and out["n_pairs"] == 66
    # median pairwise slope stays 5.0 despite the 500-count outlier
    assert out["slope_per_day"] == 5.0


def test_event_paths_counts_known_sequences(spark):
    import datetime as dt

    from xdan_dqa_spark.operators.sessions import event_paths

    rows = []
    t0 = dt.datetime(2024, 8, 1)
    for u in range(10):
        for i, e in enumerate(["view", "click", "buy", "view"]):
            rows.append((u, str(t0 + dt.timedelta(minutes=i)), e))
    df = spark.createDataFrame(rows, "user_id long, ts string, event_type string")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    got = {r["path"]: r["n_occurrences"] for r in event_paths(df).collect()}
    assert got == {"view>click>buy": 10, "click>buy>view": 10}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        event_paths(df, n=1)


def test_cms_join_estimate_never_underestimates(spark):
    from xdan_dqa_spark.operators.sketches import cms_join_cardinality

    left = spark.createDataFrame(
        [(i % 50,) for i in range(500)], "k long")        # 10 rows per key
    right = spark.createDataFrame(
        [(i,) for i in range(40)], "k long")              # keys 0..39
    out = cms_join_cardinality(left, "k", right, "k").collect()[0]
    assert out["exact_join_count"] == 400                 # 40 keys x 10
    assert out["cms_estimate"] >= 400
    assert out["overcount"] == out["cms_estimate"] - 400


def test_psi_zero_on_identical_and_large_on_shift(spark):
    from xdan_dqa_spark.operators.curation import psi_drift

    # identical halves: every bucket two-sided with equal shares -> 0
    same = spark.createDataFrame(
        [(float(v % 100), v % 2 == 0) for v in range(2000)],
        "value double, ref boolean")
    r = psi_drift(same, "value", F.col("ref")).collect()[0]
    assert r["psi"] == 0.0 and r["n_skipped"] == 0
    # reproportioned current slice: ref uniform over buckets 0-3, cur
    # concentrates 80% of its mass in buckets 0-1 -> textbook
    # "population shift" PSI (~0.42); plus one cur-only bucket that
    # must be COUNTED as skipped, not epsilon-fudged
    ref_rows = [(float(v % 40), True) for v in range(1000)]
    cur_rows = ([(float(v % 20), False) for v in range(800)]
                + [(20.0 + float(v % 20), False) for v in range(190)]
                + [(45.0, False)] * 10)
    shift = spark.createDataFrame(ref_rows + cur_rows, "value double, ref boolean")
    r2 = psi_drift(shift, "value", F.col("ref")).collect()[0]
    assert r2["psi"] > 0.25
    assert r2["n_skipped"] == 1   # the cur-only bucket 4


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


# ---- batch 42: k-anonymity, fingerprint, prefix filter, key drift ----


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


def test_commutative_fingerprint_order_and_null_sensitivity(spark):
    from xdan_dqa_spark.operators.metrics import commutative_fingerprint

    a = spark.createDataFrame([(1, "x"), (2, None), (3, "z")], "id long, v string")
    b = spark.createDataFrame([(3, "z"), (1, "x"), (2, None)], "id long, v string")
    fa = commutative_fingerprint(a.repartition(5), ["id", "v"], "t").collect()[0]
    fb = commutative_fingerprint(b, ["id", "v"], "t").collect()[0]
    assert (fa["n_rows"], fa["checksum"]) == (fb["n_rows"], fb["checksum"])
    # NULL is not the same as the string it would silently collapse to
    c = spark.createDataFrame([(1, "x"), (2, ""), (3, "z")], "id long, v string")
    fc = commutative_fingerprint(c, ["id", "v"], "t").collect()[0]
    assert fc["checksum"] != fa["checksum"]


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


# ---- batch 43: concurrency sweep, source cosine, rolling HLL ----


def test_concurrency_peak_sweep_and_touching_boundary(spark):
    from xdan_dqa_spark.operators.sessions import concurrency_peak

    rows = [("a", 0, 100), ("a", 50, 150), ("a", 90, 200),   # triple overlap at 90
            ("a", 150, 160),                                  # starts AT an end: no overlap bump
            ("b", 0, 10), ("b", 10, 20)]                      # touching -> peak 1
    df = spark.createDataFrame(rows, "scope string, s long, e long")
    got = {r["scope"]: r for r in
           concurrency_peak(df, "s", "e", group_col="scope").collect()}
    assert got["a"]["peak_concurrency"] == 3 and got["a"]["peak_at"] == 90
    assert got["a"]["n_intervals"] == 4
    assert got["b"]["peak_concurrency"] == 1


def test_source_cosine_extremes(spark):
    from xdan_dqa_spark.operators.textstats import source_similarity_matrix

    rows = ([(1, "alpha beta gamma", "en", "s1")] * 5
            + [(2, "alpha beta gamma", "en", "s2")] * 5       # identical profile
            + [(3, "delta epsilon", "en", "s3")] * 5)          # disjoint vocab
    df = spark.createDataFrame(
        [(i * 10 + j, t, l, s) for j, (i, t, l, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string")
    got = {(r["a"], r["b"]): r["cosine"]
           for r in source_similarity_matrix(df).collect()}
    assert got[("s1", "s2")] == 1.0
    assert ("s1", "s3") not in got      # zero shared terms -> no row


def test_rolling_hll_window1_equals_daily_and_window_covers_span(spark):
    import datetime as dt

    from xdan_dqa_spark.operators.sketches import (
        hll_estimate,
        hll_rolling_estimate,
    )

    rows = []
    for d in range(4):
        day = dt.date(2024, 9, 1) + dt.timedelta(days=d)
        for u in range(100 * (d + 1)):
            rows.append((f"u{d}-{u}", f"{day} 10:00:00"))
    df = spark.createDataFrame(rows, "user_id string, ts string")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    # a window spanning the whole fixture equals the global estimate on
    # the LAST day (register merge == union of all days)
    whole = hll_rolling_estimate(df, "user_id", "ts", window_days=10)
    last = max(r["day"] for r in whole.collect())
    got_last = {r["day"]: r["hll_estimate"] for r in whole.collect()}[last]
    glob = hll_estimate(df, "user_id").collect()[0]["hll_estimate"]
    assert got_last == glob
    # window=1 equals each day's own estimate
    w1 = {r["day"]: r["hll_estimate"]
          for r in hll_rolling_estimate(df, "user_id", "ts",
                                        window_days=1).collect()}
    for d in range(4):
        day_df = df.filter(
            F.to_date("ts") == str(dt.date(2024, 9, 1) + dt.timedelta(days=d)))
        solo = hll_estimate(day_df, "user_id").collect()[0]["hll_estimate"]
        dkey = sorted(w1)[d]
        assert w1[dkey] == solo


# ---- batch 44: homoglyphs, DOW chi2, bloom prefilter, Neyman ----


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


def test_dow_chi2_flat_vs_weekly_rhythm(spark):
    import datetime as dt

    from xdan_dqa_spark.operators.sessions import dow_uniformity_chi2

    rows = []
    for d in range(28):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=d)
        rows += [("bot", f"{day} 01:00:00")] * 50                 # flat
        n = 10 if day.weekday() >= 5 else 60                      # human dip
        rows += [("human", f"{day} 01:00:00")] * n
    df = spark.createDataFrame(rows, "event_type string, ts string")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    got = {r["event_type"]: r for r in dow_uniformity_chi2(df).collect()}
    assert got["bot"]["chi2"] == 0.0 and not got["bot"]["uniform_rejected"]
    assert got["human"]["chi2"] > 12.592 and got["human"]["uniform_rejected"]


def test_bloom_prefilter_report_contract_with_duplicate_fact_keys(spark):
    from xdan_dqa_spark.operators.sketches import bloom_join_prefilter_report

    # fact repeats every key 5x — the probe must count fact ROWS, and a
    # repeated key must not fail the K-position test (regression: the
    # per-row explode accumulated 4r hits)
    fact = spark.createDataFrame(
        [(i % 200,) for i in range(1000)], "k long")
    dim = spark.createDataFrame([(i,) for i in range(50)], "k long")
    r = bloom_join_prefilter_report(fact, "k", dim, "k").collect()[0]
    assert r["n_fact_rows"] == 1000
    assert r["n_true_match"] == 250            # keys 0..49, 5 rows each
    assert r["n_pass_bloom"] >= r["n_true_match"]
    assert r["n_false_pass"] == r["n_pass_bloom"] - r["n_true_match"]
    assert 0 < r["pruned_frac"] <= 0.75


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


# ---- batch 45: contract gate, log-quantile sketch, HLL overlap ----


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


def test_log_quantile_sketch_respects_2x_bound(spark):
    from xdan_dqa_spark.operators.sketches import log_histogram_quantiles

    df = spark.range(1, 5001).select((F.col("id") * 3 + 7).alias("v"))
    out = log_histogram_quantiles(df, "v", (0.5, 0.9, 0.99)).collect()
    assert len(out) == 3
    for r in out:
        assert 0.5 <= r["ratio"] <= 2.0      # the guaranteed band
    # sketch state is bounded: <= 64 power-of-two buckets regardless of n


def test_hll_overlap_extremes(spark):
    from xdan_dqa_spark.operators.sketches import hll_set_overlap

    a = spark.range(2000).select(F.col("id").cast("string").alias("k"))
    same = hll_set_overlap(a, a, "k").collect()[0]
    # identical sets: union est == each est -> overlap est == set est
    assert same["est_union"] == same["est_a"] == same["est_b"]
    assert same["est_overlap"] == same["est_a"]
    assert same["exact_overlap"] == 2000
    b = spark.range(2000, 4000).select(F.col("id").cast("string").alias("k"))
    disj = hll_set_overlap(a, b, "k").collect()[0]
    assert disj["exact_overlap"] == 0
    # inclusion-exclusion noise stays small relative to the set sizes
    assert abs(disj["est_overlap"]) < 0.3 * 2000


# ---- batch 46: KM survival, RBO, coverage curve ----


def test_km_survival_hand_computed_with_censoring(spark):
    import datetime as dt

    from xdan_dqa_spark.operators.sessions import km_survival

    t0 = dt.datetime(2024, 10, 1)

    def ev(u, ty, sec):
        return (u, ty, str(t0 + dt.timedelta(seconds=sec)))

    rows = [
        ev(1, "click", 0), ev(1, "purchase", 10),     # converts at 10
        ev(2, "click", 0), ev(2, "purchase", 20),     # converts at 20
        ev(3, "click", 0), ev(3, "view", 15),         # censored at 15
        ev(4, "view", 5),                             # never enters
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts string")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    out = {r["t_sec"]: r for r in km_survival(df).collect()}
    # risk sets: t=10 -> 3 at risk, 1 event -> S = 2/3
    # t=15 censor leaves; t=20 -> 1 at risk, 1 event -> S = 0 (d == n_risk)
    assert set(out) == {10.0, 20.0}
    assert out[10.0]["n_risk"] == 3 and out[10.0]["n_events"] == 1
    assert abs(out[10.0]["survival"] - 2 / 3) < 1e-6
    assert out[20.0]["n_risk"] == 1 and out[20.0]["survival"] == 0.0


def test_rbo_extremes(spark):
    from xdan_dqa_spark.operators.metrics import rank_biased_overlap

    ra = spark.createDataFrame(
        [(f"i{r}", r) for r in range(1, 21)], "item string, rank long")
    same = rank_biased_overlap(ra, ra, "item", p=0.9, depth=20).collect()[0]
    # identical rankings: truncated RBO = 1 - p^depth
    assert abs(same["rbo"] - (1 - 0.9 ** 20)) < 1e-6
    rb = spark.createDataFrame(
        [(f"j{r}", r) for r in range(1, 21)], "item string, rank long")
    disj = rank_biased_overlap(ra, rb, "item", p=0.9, depth=20).collect()[0]
    assert disj["rbo"] == 0.0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        rank_biased_overlap(ra, rb, "item", p=1.5)


def test_vocab_coverage_monotone_and_saturates(spark):
    from xdan_dqa_spark.operators.textstats import vocab_coverage_curve

    rows = [(i, "the " * 50 + f"rare{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["k"]: r for r in
           vocab_coverage_curve(df, ks=(1, 10, 1000)).collect()}
    assert out[1]["coverage"] < out[10]["coverage"] <= out[1000]["coverage"]
    assert out[1000]["coverage"] == 1.0          # budget >= vocab
    assert out[1]["covered_tokens"] == 5000      # 'the' dominates


# ---- batch 47: CDC apply, lateness census, strict 3-step funnel ----


def test_cdc_apply_merge_semantics(spark):
    from xdan_dqa_spark.operators.resume import cdc_apply

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    chg = spark.createDataFrame(
        [(1, 1, "U", "a1"), (1, 3, "U", "a3"), (1, 2, "U", "a2"),  # last-wins
         (2, 1, "D", ""),                                          # delete
         (9, 1, "I", "new")],                                      # insert
        "k long, seq long, op string, v string")
    got = {r["k"]: r["v"]
           for r in cdc_apply(base, chg, "k", "seq").collect()}
    assert got == {1: "a3", 3: "c", 9: "new"}
    # partitioning must not change the winner
    again = {r["k"]: r["v"]
             for r in cdc_apply(base.repartition(5), chg.repartition(7),
                                "k", "seq").collect()}
    assert again == got


def test_lateness_census_buckets(spark):
    import datetime as dt

    from xdan_dqa_spark.operators.sessions import lateness_census

    t0 = dt.datetime(2024, 11, 1)

    def ev(i, sec):
        return ("t", i, str(t0 + dt.timedelta(seconds=sec)))

    # arrival order i: event times go 0, 100, then a straggler from t=40
    # (60s late), then 200, then a very-late one from t=-700 (900s late)
    rows = [ev(1, 0), ev(2, 100), ev(3, 40), ev(4, 200), ev(5, -700)]
    df = spark.createDataFrame(rows, "event_type string, event_id long, ts string")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    r = lateness_census(df, watermark_sec=600).collect()[0]
    assert r["n_events"] == 5 and r["n_on_time"] == 3
    assert r["n_late_1m"] == 1          # the 60s straggler
    assert r["n_very_late"] == 1 and r["n_dropped_at_watermark"] == 1


def test_funnel3_strict_order_required(spark):
    import datetime as dt

    from xdan_dqa_spark.operators.sessions import funnel3_strict

    t0 = dt.datetime(2024, 12, 1)

    def ev(u, i, ty, sec):
        return (u, i, ty, str(t0 + dt.timedelta(seconds=sec)))

    rows = [
        # user 1: full ordered funnel
        ev(1, 1, "view", 0), ev(1, 2, "click", 10), ev(1, 3, "purchase", 20),
        # user 2: purchase BEFORE the chained click -> reached 2
        ev(2, 4, "view", 0), ev(2, 5, "purchase", 5), ev(2, 6, "click", 10),
        # user 3: click before any view -> that click can't chain; a later
        # view alone -> reached 1
        ev(3, 7, "click", 0), ev(3, 8, "view", 10),
        # user 4: never views -> absent
        ev(4, 9, "click", 0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts string")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    got = {r["user_id"]: r["reached"] for r in funnel3_strict(df).collect()}
    assert got == {1: 3, 2: 2, 3: 1}


# ---- batch 48: EMD drift, doc novelty, daily xcorr ----


def test_emd_shift_equals_offset(spark):
    """Two distributions differing by a constant +300 shift must show
    emd == 300 (the value-units property KS/KL don't have)."""
    from xdan_dqa_spark.operators.curation import emd_length_drift

    rows = ([("a", v) for v in (100, 200, 300, 400) * 25]
            + [("b", v + 300) for v in (100, 200, 300, 400) * 25])
    df = spark.createDataFrame(rows, "source string, n_chars long")
    r = emd_length_drift(df, bucket_width=100).collect()[0]
    assert (r["a"], r["b"]) == ("a", "b")
    assert r["emd"] == 300.0
    same = spark.createDataFrame(
        [("x", v) for v in range(100)] + [("y", v) for v in range(100)],
        "source string, n_chars long")
    r2 = emd_length_drift(same, bucket_width=10).collect()[0]
    assert r2["emd"] == 0.0


def test_doc_novelty_templates_score_low(spark):
    from xdan_dqa_spark.operators.curation import doc_novelty

    common = "the quick brown fox " * 10
    rows = ([(i, common) for i in range(20)]
            + [(100, "zyzzyva qoph xylyl crwth")])       # rare vocab
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = doc_novelty(df, top_k=1).collect()
    ends = {r["which_end"]: r["doc_id"] for r in out}
    assert ends["most_novel"] == 100
    assert ends["least_novel"] != 100


def test_daily_xcorr_detects_injected_lag(spark):
    import datetime as dt

    from xdan_dqa_spark.operators.sessions import daily_xcorr

    rows = []
    base = [10, 50, 20, 80, 30, 90, 40, 70, 15, 60, 25, 85, 35, 95]
    for d, n in enumerate(base):
        day = dt.date(2025, 1, 1) + dt.timedelta(days=d)
        rows += [("click", f"{day} 01:00:00")] * n
        # purchases echo clicks exactly two days later
        day2 = dt.date(2025, 1, 3) + dt.timedelta(days=d)
        rows += [("purchase", f"{day2} 01:00:00")] * n
    df = spark.createDataFrame(rows, "event_type string, ts string")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    got = {r["lag"]: r["r"] for r in daily_xcorr(df).collect()}
    assert got[2] == 1.0                       # perfect echo at +2
    assert all(got[lag] < 1.0 for lag in got if lag != 2)


# ---- batch 49: adaptation, bigram conditional entropy, RFM ----


def test_term_adaptation_content_vs_glue(spark):
    from xdan_dqa_spark.operators.textstats import term_adaptation

    # 'spark' repeats within its docs (adapts); 'the' appears once per doc
    rows = [(i, "the spark engine spark runs spark") for i in range(10)] + [
        (100 + i, "the other engine") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["term"]: r for r in term_adaptation(df, top_k=5).collect()}
    assert got["spark"]["adaptation"] == 1.0      # always repeats
    assert got["the"]["adaptation"] == 0.0        # never repeats
    assert got["spark"]["df1"] == 10 and got["spark"]["df2"] == 10


def test_bigram_cond_entropy_extremes(spark):
    from xdan_dqa_spark.operators.textstats import bigram_conditional_entropy

    det = spark.createDataFrame(
        [(i, "a b a b a b a b", "det") for i in range(5)],
        "doc_id long, text string, lang string")
    r = bigram_conditional_entropy(det).collect()[0]
    # a->b and b->a deterministically: H(Y|X) == 0
    assert r["cond_entropy_nats"] == 0.0
    mixed = spark.createDataFrame(
        [(1, "a b a c a b a c a d a e", "mx")],
        "doc_id long, text string, lang string")
    r2 = bigram_conditional_entropy(mixed).collect()[0]
    assert r2["cond_entropy_nats"] > 0.0


def test_rfm_segments_census_is_bounded_and_complete(spark):
    import datetime as dt

    from xdan_dqa_spark.operators.sessions import rfm_segments

    rows = []
    t0 = dt.datetime(2025, 2, 1)
    for u in range(50):
        for k in range(1 + u % 7):
            rows.append((u, str(t0 + dt.timedelta(hours=u + k)), float(u)))
    df = spark.createDataFrame(rows, "user_id long, ts string, value double")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    out = rfm_segments(df).collect()
    assert sum(r["n_users"] for r in out) == 50
    for r in out:
        assert 1 <= r["r"] <= 5 and 1 <= r["f"] <= 5 and 1 <= r["m"] <= 5


# ---- cross-cutting: repartition invariance of round-5 operators ----


def test_round5_operators_repartition_invariant(spark):
    """The determinism contract behind every oracle pairing: rounded-
    decimal sums, integer fixed-point, and struct-max argmins must give
    BIT-IDENTICAL results at any parallelism. One fixture, several
    operators, 1 vs 13 partitions."""
    import datetime as dt

    from xdan_dqa_spark.operators.curation import (
        emd_length_drift,
        gini_concentration,
        psi_drift,
    )
    from xdan_dqa_spark.operators.metrics import mutual_information
    from xdan_dqa_spark.operators.sketches import (
        cms_heavy_hitters,
        hll_estimate,
        log_histogram_quantiles,
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
            tuple(sorted(map(tuple, emd_length_drift(d, "n_chars", "source",
                                                     100).collect()))),
            tuple(map(tuple, psi_drift(d, "value", F.col("ref")).collect())),
            tuple(map(tuple, mutual_information(d, "lang", "source").collect())),
            tuple(map(tuple, hll_estimate(d.select(
                F.col("doc_id").cast("string").alias("v")), "v").collect())),
            tuple(sorted(map(tuple, cms_heavy_hitters(d.select(
                F.col("source").alias("v")), "v", top_k=5).collect()))),
            tuple(sorted(map(tuple, log_histogram_quantiles(
                d, "n_chars").collect()))),
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
