"""Curation operator invariants (operators/curation.py): the
decontamination join must broadcast the benchmark side, chunking and
packing must conserve token counts exactly, OOV/mixture outputs obey
their algebraic identities, and the Simpson gibberish signal hits its
closed-form extremes. Value-level cross-engine identity is pinned by
the DuckDB twins (decon/oov/mixture/chunk/pack/char_diversity in
plans/entry_queries.py); these tests pin the invariants and plan shapes
the oracle can't see."""

from __future__ import annotations

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def small(spark):
    return _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog", "en", "a"),
            (2, "pack my box with five dozen liquor jugs", "en", "a"),
            (3, "el rapido zorro marron salta sobre el perro", "es", "b"),
            (4, "", "en", "b"),
            (5, None, "en", "b"),
            (6, "aaaa aaaa aaaa", "en", "c"),
        ],
    ).cache()


def test_benchmark_overlap_flags_leak_and_broadcasts(spark, small):
    from xdan_dqa_spark.operators.curation import benchmark_overlap

    bench = _docs(spark, [(100, "over the lazy dog today", "en", "x")])
    out = benchmark_overlap(small, bench, n=3)
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 1 shares the "over the lazy" / "the lazy dog" trigrams; nothing
    # else overlaps the benchmark text.
    assert set(rows) == {1}
    assert rows[1]["n_hits"] == 2
    assert 0.0 < rows[1]["hit_frac"] <= 1.0
    # The benchmark key set must ride a broadcast — the corpus side of
    # the contamination probe never shuffles.
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_benchmark_overlap_self_is_total(spark, small):
    from xdan_dqa_spark.operators.curation import benchmark_overlap

    docs = small.filter("text is not null and length(text) > 0")
    out = benchmark_overlap(docs, docs, n=3).collect()
    # Every doc with >=3 words is 100% contaminated against itself.
    assert all(r["hit_frac"] == 1.0 for r in out)
    assert all(r["n_hits"] == r["n_shingles"] for r in out)


def test_chunk_plan_conserves_tokens_and_is_map_only(spark, small):
    from xdan_dqa_spark.operators.curation import chunk_plan

    out = chunk_plan(small, chunk_tokens=4)
    rows = out.collect()
    # doc 1: 9 tokens -> chunks of 4,4,1; doc 2: 8 -> 4,4; doc 6: 3 -> 3.
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sorted(c["chunk_tokens"] for c in by_doc[1]) == [1, 4, 4]
    assert sorted(c["chunk_tokens"] for c in by_doc[2]) == [4, 4]
    assert sorted(c["chunk_tokens"] for c in by_doc[6]) == [3]
    # Empty / NULL text documents emit zero chunks, not 0-length rows.
    assert 4 not in by_doc and 5 not in by_doc
    # Every chunk is positive, every non-tail chunk is full, chunk_ids
    # are 0..n_chunks-1.
    for doc, cs in by_doc.items():
        cs = sorted(cs, key=lambda c: c["chunk_id"])
        assert [c["chunk_id"] for c in cs] == list(range(len(cs)))
        assert all(c["n_chunks"] == len(cs) for c in cs)
        assert all(c["chunk_tokens"] == 4 for c in cs[:-1])
        assert cs[-1]["chunk_tokens"] > 0
    # Map-only: no Exchange anywhere in the chunking plan.
    assert "Exchange" not in _plan(out)


def test_pack_bins_conserves_tokens_and_orders(spark, small):
    from xdan_dqa_spark.operators.curation import pack_bins

    out = pack_bins(small, capacity_tokens=10)
    rows = {(r["source"], r["bin_id"]): r for r in out.collect()}
    # source a: doc1 (9 tok) then doc2 (8 tok): doc2's exclusive prefix
    # is 9 -> bin 0; both land in bin 0 (offset packing fills past the
    # boundary with the doc that straddles it).
    assert rows[("a", 0)]["n_docs"] == 2
    assert rows[("a", 0)]["bin_tokens"] == 17
    assert rows[("a", 0)]["first_doc"] == 1 and rows[("a", 0)]["last_doc"] == 2
    # Token conservation per source.
    import collections

    tot = collections.Counter()
    for (src, _), r in rows.items():
        tot[src] += r["bin_tokens"]
    assert tot["a"] == 17 and tot["b"] == 8 and tot["c"] == 3


def test_oov_rate_bounds(spark, small):
    from xdan_dqa_spark.operators.curation import oov_rate

    # Vocabulary covering every term -> zero OOV everywhere.
    full = {r["lang"]: r for r in oov_rate(small, vocab_size=10_000).collect()}
    assert all(r["n_oov"] == 0 and r["oov_rate"] == 0.0 for r in full.values())
    # A 1-term vocabulary ("aaaa" x3 ties with "el" x3, term ASC keeps
    # "aaaa"): rates stay in (0, 1] and token counts are unchanged.
    tiny = {r["lang"]: r for r in oov_rate(small, vocab_size=1).collect()}
    assert tiny["en"]["n_tokens"] == full["en"]["n_tokens"]
    for r in tiny.values():
        assert 0.0 < r["oov_rate"] <= 1.0
        assert r["n_oov"] <= r["n_tokens"]


def test_mixture_plan_algebra(spark, small):
    from xdan_dqa_spark.operators.curation import mixture_plan

    rows = mixture_plan(small).collect()
    assert {r["source"] for r in rows} == {"a", "b", "c"}
    assert abs(sum(r["current_share"] for r in rows) - 1.0) < 1e-6
    for r in rows:
        # epochs = target_share / current_share; sampling_rate caps at 1.
        assert r["epochs"] == pytest.approx(
            r["target_share"] / r["current_share"], rel=1e-6
        )
        assert r["sampling_rate"] == pytest.approx(min(1.0, r["epochs"]), rel=1e-6)
    # a=17, b=8, c=3 tokens: 'c' is under-represented -> epochs > 1.
    by = {r["source"]: r for r in rows}
    assert by["c"]["epochs"] > 1.0 > by["a"]["epochs"]


def test_char_diversity_extremes(spark):
    from xdan_dqa_spark.operators.curation import char_diversity

    df = _docs(
        spark,
        [
            (1, "aaaaaaaa", "spam", "s"),
            (2, "abcdefgh", "prose", "s"),
        ],
    )
    rows = {r["lang"]: r for r in char_diversity(df).collect()}
    # Repeated-character spam: P(two draws equal) == 1 exactly.
    assert rows["spam"]["mean_simpson"] == 1.0
    assert rows["spam"]["sum_distinct_chars"] == 1
    # All-distinct text: Simpson == 1/n.
    assert rows["prose"]["mean_simpson"] == pytest.approx(1 / 8, abs=1e-9)
    assert rows["prose"]["sum_distinct_chars"] == 8


def test_stopword_coverage_separates_prose_from_stuffing(spark):
    from xdan_dqa_spark.operators.curation import stopword_coverage

    docs = _docs(
        spark,
        [
            (1, "The cat sat on the mat and the dog was in the house", "en", "a"),
            (2, "buy cheap pills discount pills cheap buy pills", "en-stuff", "a"),
        ],
    )
    rows = {r["lang"]: r for r in stopword_coverage(docs).collect()}
    # Lowercased membership: "The" counts. Prose carries function words;
    # keyword stuffing carries none.
    assert rows["en"]["n_stop"] >= 4
    assert rows["en"]["stop_rate"] > 0.2
    assert rows["en-stuff"]["n_stop"] == 0 and rows["en-stuff"]["stop_rate"] == 0.0
    # The lexicon must ride a broadcast, never a shuffle join.
    plan = _plan(stopword_coverage(docs))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_host_of_parses_authority_variants(spark):
    """host_of strips scheme, userinfo, port, path/query/fragment and
    lowercases; malformed/NULL urls map to '' (never NULL — the
    blocklist join key must be total)."""

    from xdan_dqa_spark.operators.curation import host_of

    rows = [
        (1, "https://Example.COM/path?q=1"),
        (2, "http://user:pw@sub.example.com:8080/x"),
        (3, "ftp://files.example.org"),
        (4, "not a url"),
        (5, None),
        (6, "https://h.example.com#frag"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["h"] for r in df.select("doc_id", host_of("url").alias("h")).collect()}
    assert got[1] == "example.com"
    assert got[2] == "sub.example.com"
    assert got[3] == "files.example.org"
    assert got[4] == "" and got[5] == ""
    assert got[6] == "h.example.com"


def test_domain_blocklist_drops_below_mean_hosts(spark):
    """Host reputation on an integer signal: hosts whose mean is below
    the corpus mean are blocked; blocklist_filter removes exactly their
    pages, and the anti-join broadcasts the blocklist side (the corpus
    never shuffles)."""
    from xdan_dqa_spark.operators.curation import (
        blocklist_filter,
        domain_blocklist,
        domain_reputation,
    )

    rows = [
        (1, "https://good.example.com/a", 100),
        (2, "https://good.example.com/b", 120),
        (3, "https://spam.example.com/a", 5),
        (4, "https://spam.example.com/b", 7),
        (5, "https://mid.example.com/a", 58),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, score long")
    rep = {r["host"]: r for r in domain_reputation(df, "url", "score").collect()}
    assert rep["good.example.com"]["n_docs"] == 2
    assert rep["good.example.com"]["score_sum"] == 220
    assert rep["spam.example.com"]["avg_score"] == 6.0

    # corpus mean = 290/5 = 58; spam (6) below, mid (58) NOT below (strict <)
    blocked = {r["host"] for r in
               domain_blocklist(domain_reputation(df, "url", "score")).collect()}
    assert blocked == {"spam.example.com"}

    kept = blocklist_filter(df, domain_blocklist(domain_reputation(df, "url", "score")))
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2, 5]
    assert "BroadcastHashJoin" in _plan(kept)


def test_blocklist_integer_boundary_is_exact(spark):
    """The below-mean test is integer cross-multiplication, so a host
    sitting EXACTLY at the mean is kept on any engine — no float-divide
    epsilon can flip it (3 hosts × 1 doc, scores 1, 2, 3: mean 2)."""
    from xdan_dqa_spark.operators.curation import domain_blocklist, domain_reputation

    df = spark.createDataFrame(
        [(1, "https://a.x/1", 1), (2, "https://b.x/1", 2), (3, "https://c.x/1", 3)],
        "doc_id long, url string, score long",
    )
    blocked = {r["host"] for r in
               domain_blocklist(domain_reputation(df, "url", "score")).collect()}
    assert blocked == {"a.x"}


def test_canonical_url_variants_collapse(spark):
    """The five fixture mess patterns (tracking params, fragment,
    trailing slash, uppercase host, default port) all map to the clean
    canonical form; distinct pages stay distinct."""
    from xdan_dqa_spark.operators.curation import canonical_url

    clean = "https://example.com/p/7"
    rows = [
        (1, clean),
        (2, clean + "?utm_source=feed"),
        (3, clean + "#section"),
        (4, clean + "/"),
        (5, "HTTPS://EXAMPLE.COM/p/7"),
        (6, "https://example.com:443/p/7"),
        (7, "https://example.com/p/8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["c"]
           for r in df.select("doc_id", canonical_url("url").alias("c")).collect()}
    assert all(got[i] == clean for i in (1, 2, 3, 4, 5, 6))
    assert got[7] == "https://example.com/p/8"


def test_url_dedup_last_crawl_wins_no_window(spark):
    """Of N crawls of one canonical URL the newest survives (ties broken
    by highest id); n_crawls counts all of them; and the plan is ONE
    map-side-combinable aggregate — no Window, exactly one Exchange (a
    SortAggregate's partition-local sort is fine; a Window's per-key
    global sort is the straggler the operator exists to avoid)."""
    from pyspark.sql import functions as F

    from xdan_dqa_spark.operators.curation import url_dedup

    rows = [
        (1, "https://a.com/x?utm_source=s", "2024-01-01 00:00:00"),
        (2, "https://a.com/x#f", "2024-03-01 00:00:00"),   # newest → wins
        (3, "https://a.com/x/", "2024-02-01 00:00:00"),
        (4, "https://b.com/y", "2024-01-01 00:00:00"),     # tie on ts...
        (5, "https://b.com/y/", "2024-01-01 00:00:00"),    # ...higher id wins
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, crawl_ts string") \
        .withColumn("crawl_ts", F.col("crawl_ts").cast("timestamp"))
    out = url_dedup(df)
    got = {r["canonical_url"]: r for r in out.collect()}
    assert got["https://a.com/x"]["doc_id"] == 2
    assert got["https://a.com/x"]["n_crawls"] == 3
    assert got["https://b.com/y"]["doc_id"] == 5
    assert got["https://b.com/y"]["n_crawls"] == 2
    plan = _plan(out)
    assert "Window" not in plan
    assert plan.count("Exchange") - plan.count("AQEShuffleRead") <= 1


def test_leak_safe_split_keeps_variants_together(spark):
    """A case/whitespace-variant copy must land in the SAME split as its
    original (the anti-leakage contract); assignment is map-only (zero
    Exchanges) and deterministic; bad weights raise."""

    from xdan_dqa_spark.operators.curation import leak_safe_split

    rows = [(i, f"document number {i} with some words " * 3) for i in range(200)]
    rows += [(1000, rows[7][1].upper()), (1001, "  " + rows[7][1].replace(" ", "\t"))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leak_safe_split(df)
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert got[1000] == got[7] and got[1001] == got[7]
    # all three labels appear on 200 distinct docs
    assert set(got.values()) == {"train", "val", "test"}
    assert "Exchange" not in _plan(out)

    with pytest.raises(ValueError):
        leak_safe_split(df, weights=(70, 10, 10))


def test_normalize_punct_maps_and_is_idempotent(spark):
    from pyspark.sql import functions as F

    from xdan_dqa_spark.operators.curation import normalize_punct

    rows = [
        (1, "‘a’ “b” ‚c′"),
        (2, "x–y—z―w"),
        (3, "wait… ok"),
        (4, "a​b­c﻿d"),
        (5, "nb sp and　wide"),
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = df.select("doc_id", normalize_punct("text").alias("n"))
    got = {r["doc_id"]: r["n"] for r in once.collect()}
    assert got[1] == "'a' \"b\" 'c'"
    assert got[2] == "x-y-z-w"
    assert got[3] == "wait... ok"
    assert got[4] == "abd" or got[4] == "abcd"  # soft hyphen removed
    assert got[5] == "nb sp and wide"
    assert got[6] == ""
    # idempotent: a second pass changes nothing
    twice = once.select("doc_id", normalize_punct(F.col("n")).alias("n2"))
    assert {r["doc_id"]: r["n2"] for r in twice.collect()} == got


def _gv(spark, rows):
    return spark.createDataFrame(rows, "source string, n_chars long")


def test_ks_drift_identical_distributions_is_zero(spark):
    from xdan_dqa_spark.operators.curation import ks_drift

    rows = [("a", v) for v in range(1, 101)] + [("b", v) for v in range(1, 101)]
    got = {r["source"]: r for r in ks_drift(_gv(spark, rows)).collect()}
    assert got["a"]["ks_stat"] == 0.0
    assert got["b"]["ks_stat"] == 0.0
    assert got["a"]["n_in"] == 100 and got["a"]["n_rest"] == 100


def test_ks_drift_disjoint_and_mixed(spark):
    """C is fully above A∪B → D(C)=1; A vs rest(B+C): at x=100 F_A=1,
    F_rest=0.5 → D(A)=0.5 exactly."""
    from xdan_dqa_spark.operators.curation import ks_drift

    rows = (
        [("a", v) for v in range(1, 101)]
        + [("b", v) for v in range(1, 101)]
        + [("c", v) for v in range(201, 301)]
    )
    got = {r["source"]: r["ks_stat"] for r in ks_drift(_gv(spark, rows)).collect()}
    assert got["c"] == 1.0
    assert got["a"] == 0.5 and got["b"] == 0.5


def test_ks_drift_single_group_is_null(spark):
    from xdan_dqa_spark.operators.curation import ks_drift

    rows = [("a", v) for v in range(10)]
    r = ks_drift(_gv(spark, rows)).collect()[0]
    assert r["ks_stat"] is None and r["n_rest"] == 0


def test_boilerplate_prefix_flags_shared_opening(spark):
    """Three docs of source s1 open with the same 8-token banner -> all
    three flagged, share = 3/4; the odd doc out is not flagged."""
    import xdan_dqa_spark.plans.entry_queries as eq
    import os, tempfile

    banner = "cookie notice please accept our tracking policy now"
    rows = [
        (1, banner + " article one", "s1"),
        (2, banner + " article two", "s1"),
        (3, banner + " article three", "s1"),
        (4, "completely original opening text for this one page", "s1"),
        (5, "another site entirely different text here", "s2"),
    ]
    df = spark.createDataFrame(
        [(i, t, s, len(t)) for i, t, s in rows],
        "doc_id long, text string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(os.path.join(tmp, "documents.parquet"))
        got = {r["doc_id"]: r for r in
               eq.QUERIES["boilerplate_prefix"](spark, tmp).collect()}
    assert [got[i]["is_boilerplate_prefix"] for i in (1, 2, 3)] == [True] * 3
    assert got[4]["is_boilerplate_prefix"] is False
    assert got[1]["prefix_share"] == 0.75
    assert got[5]["prefix_share"] == 1.0  # single-doc source: its own mode


def _kl_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_unigram_kl_identical_sources_is_zero(spark):
    """Two sources with byte-identical term distributions: every cell
    has p = q exactly (same counts, same smoothing) -> KL = 0.0."""
    from xdan_dqa_spark.operators.curation import unigram_kl_drift

    text = "alpha beta gamma alpha beta alpha"
    got = unigram_kl_drift(
        _kl_docs(spark, [(1, text, "a"), (2, text, "b")]), group_col="source"
    ).collect()
    assert {r["kl_vs_rest"] for r in got} == {0.0}


def test_unigram_kl_disjoint_sources_positive_and_ordered(spark):
    from xdan_dqa_spark.operators.curation import unigram_kl_drift

    rows = (
        [(1, "red green blue red green", "a"), (2, "red green blue", "a")]
        + [(3, "qqq www eee qqq www", "b"), (4, "qqq www eee", "b")]
    )
    got = {r["source"]: r["kl_vs_rest"]
           for r in unigram_kl_drift(_kl_docs(spark, rows),
                                     group_col="source").collect()}
    assert got["a"] > 0.3 and got["b"] > 0.3


def test_chunk_plan_strided_coverage_and_overlap(spark):
    from xdan_dqa_spark.operators.curation import chunk_plan_strided

    df = spark.createDataFrame(
        [(1, "w " * 100), (2, "w " * 64), (3, "w " * 10), (4, "")],
        "doc_id long, text string",
    )
    got = {}
    for r in chunk_plan_strided(df, chunk_tokens=64, stride=48).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["start_tok"], r["chunk_len"])
        )
    # 100 tokens: windows at 0 and 48; second is 52 long (reaches end)
    assert sorted(got[1]) == [(0, 0, 64), (1, 48, 52)]
    # exactly one window when doc fits
    assert got[2] == [(0, 0, 64)]
    assert got[3] == [(0, 0, 10)]
    assert 4 not in got                      # empty doc: no chunks
    # every token covered: max(start+len) == n_tok and starts stride apart
    assert max(s + ln for _, s, ln in got[1]) == 100


def test_chunk_plan_strided_rejects_token_skipping(spark):
    import pytest as _pytest

    from xdan_dqa_spark.operators.curation import chunk_plan_strided

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_plan_strided(df, chunk_tokens=8, stride=9)


def test_mixture_temperature_limits_and_direction(spark):
    """T→1 keeps natural shares; T=2 moves small sources UP and large
    sources DOWN but never past uniform; shares always sum to 1."""
    from xdan_dqa_spark.operators.curation import mixture_plan_temperature

    rows = [(i, "w " * 90, "big") for i in range(9)] + [(100, "w " * 10, "small")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    t1 = {r["source"]: r for r in
          mixture_plan_temperature(df, temperature=1.0).collect()}
    assert t1["big"]["target_share"] == t1["big"]["current_share"]
    assert t1["big"]["epochs"] == 1.0

    t2 = {r["source"]: r for r in
          mixture_plan_temperature(df, temperature=2.0).collect()}
    assert t2["small"]["target_share"] > t2["small"]["current_share"]
    assert t2["big"]["target_share"] < t2["big"]["current_share"]
    assert 0.5 > t2["small"]["target_share"]      # never past uniform
    assert abs(sum(r["target_share"] for r in t2.values()) - 1.0) < 1e-6
    assert t2["small"]["epochs"] > 1.0 > t2["big"]["epochs"]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        mixture_plan_temperature(df, temperature=0.0)


# ------------------------------------------------ quantile normalization

def test_quantile_normalize_identical_distributions_are_identity(spark):
    """Two groups with the SAME value multiset: normalization maps every
    value to itself (the pooled distribution equals each group's)."""
    from xdan_dqa_spark.operators.curation import quantile_normalize

    rows = [(i, "a", v) for i, v in enumerate([10, 20, 30, 40])] + [
        (100 + i, "b", v) for i, v in enumerate([10, 20, 30, 40])
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = quantile_normalize(df, "n_chars", "source").collect()
    assert all(r["norm_n_chars"] == r["n_chars"] for r in out)


def test_quantile_normalize_aligns_shifted_group(spark):
    """Group b is group a shifted by +1000: after normalization both
    groups land on the SAME pooled values rank-for-rank, so a global
    threshold treats them identically."""
    from xdan_dqa_spark.operators.curation import quantile_normalize

    a_vals = [10, 20, 30, 40, 50]
    rows = [(i, "a", v) for i, v in enumerate(a_vals)] + [
        (100 + i, "b", v + 1000) for i, v in enumerate(a_vals)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = quantile_normalize(df, "n_chars", "source").collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], []).append(
            (r["n_chars"], r["norm_n_chars"])
        )
    norm_a = [n for _, n in sorted(by_group["a"])]
    norm_b = [n for _, n in sorted(by_group["b"])]
    assert norm_a == norm_b          # rank-aligned onto the pooled scale
    assert norm_a == sorted(norm_a)  # monotone within group


def test_quantile_normalize_singleton_group_maps_to_pooled_median(spark):
    from xdan_dqa_spark.operators.curation import quantile_normalize

    rows = [(1, "a", 10), (2, "a", 20), (3, "a", 30), (4, "a", 40),
            (9, "solo", 999999)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = {r["doc_id"]: r["norm_n_chars"]
           for r in quantile_normalize(df, "n_chars", "source").collect()}
    # pooled rank (N+1) DIV 2 = 3rd of [10,20,30,40,999999] -> 30
    assert out[9] == 30


# --------------------------------------------------- coverage selection

def test_greedy_coverage_picks_complement_not_second_best(spark):
    """Doc 1 covers {a..e}; doc 2 covers {a..d,f} (second-highest raw
    coverage but mostly redundant); doc 3 covers {x,y,z} (small but
    disjoint). Greedy must pick 1 then 3 — the submodular gain, not
    the raw count."""
    from xdan_dqa_spark.operators.curation import greedy_coverage_select

    rows = [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = [(r["step"], r["doc_id"], r["new_terms"])
           for r in greedy_coverage_select(df, k=2).orderBy("step").collect()]
    assert out == [(1, 1, 5), (2, 3, 3)]


def test_greedy_coverage_stops_when_nothing_new(spark):
    from xdan_dqa_spark.operators.curation import greedy_coverage_select

    rows = [(1, "a b c"), (2, "a b"), (3, "c a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = greedy_coverage_select(df, k=3).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 1


def test_cluster_safe_split_keeps_near_dups_together(spark):
    """A 3-doc near-dup chain plus its byte-identical copy must all land
    in ONE split; unrelated docs split independently."""
    from xdan_dqa_spark.operators.curation import cluster_safe_split

    base = " ".join(f"w{i}" for i in range(60))
    rows = [
        (1, base + " tail1"),
        (2, base + " tail2"),
        (3, base + " tail3"),
        (4, base + " tail1"),            # exact copy of doc 1
        (50, " ".join(f"z{i}" for i in range(60))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["comp"], r["split"])
           for r in cluster_safe_split(df).collect()}
    assert len(got) == 5
    cluster_splits = {got[i][1] for i in (1, 2, 3, 4)}
    assert len(cluster_splits) == 1          # whole cluster in one split
    assert got[1][0] == got[2][0] == got[3][0] == got[4][0] == 1
    assert got[50][0] == 50


def test_cluster_safe_split_covers_every_row_and_is_stable(spark):
    from xdan_dqa_spark.operators.curation import cluster_safe_split

    df = spark.range(120).selectExpr(
        "id AS doc_id",
        "concat('unique doc ', id, ' body ', id * 7919) AS text",
    )
    a = sorted(map(tuple, cluster_safe_split(df).collect()))
    b = sorted(map(tuple, cluster_safe_split(df.repartition(7)).collect()))
    assert a == b and len(a) == 120
    splits = {s for _, _, s in a}
    assert splits <= {"train", "val", "test"} and "train" in splits
