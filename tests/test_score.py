"""Scoring operator properties: normalization clamp, weighted-sum bounds,
threshold monotonicity, per-kind discrimination (SURVEY.md §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from xdan_dqa_spark.operators.score import QualityConfig, normalize_score
from xdan_dqa_spark.pipeline import score_webtext


def test_normalize_clamps_high_only(spark):
    df = spark.createDataFrame([(12.0,), (9.9,), (-1.0,), (0.0,)], "x double")
    got = [r[0] for r in df.select(normalize_score(F.col("x"))).collect()]
    assert got == [10.0, 9.9, -1.0, 0.0]  # reference keeps ≤0 as-is (src/processor.py:302-311)


def test_score_bounds(scored):
    row = scored.agg(F.min("score"), F.max("score")).collect()[0]
    assert row[0] >= 0.0 and row[1] <= 10.0


def test_threshold_monotonicity(spark, webtext):
    """Raising min_score can only shrink the keep set."""
    k6 = score_webtext(webtext, QualityConfig(min_score=6.0)).filter("keep")
    k8 = score_webtext(webtext, QualityConfig(min_score=8.0)).filter("keep")
    urls6 = {r[0] for r in k6.select("url").collect()}
    urls8 = {r[0] for r in k8.select("url").collect()}
    assert urls8 <= urls6


def test_kind_discrimination(spark):
    """The rule stack separates the synthetic row kinds as designed."""
    from xdan_dqa_spark.synth import webtext_df

    df = webtext_df(spark, 800, with_kind=True)
    rates = {
        r["_kind"]: r["kr"]
        for r in score_webtext(df)
        .groupBy("_kind")
        .agg(F.avg(F.col("keep").cast("double")).alias("kr"))
        .collect()
    }
    assert rates["clean"] >= 0.98
    for bad in ["duplines", "stuffing", "symbols", "wronglang", "short"]:
        assert rates[bad] <= 0.02, f"{bad} keep rate {rates[bad]}"
    assert rates["pii"] >= 0.5  # pii rows are kept (then scrubbed), minus zh-tag mismatches


def test_allowed_langs_filter(spark, webtext):
    only_en = score_webtext(webtext, QualityConfig(allowed_langs=("en",)))
    kept = only_en.filter("keep").select("pred_lang").distinct().collect()
    assert {r[0] for r in kept} <= {"en"}


def test_all_nine_languages_scoreable(spark):
    """End-to-end: a clean in-domain doc in EVERY covered language —
    latin four, zh, and the non-latin extension (ja/ko/ru/ar) — routes to
    its own LID label + perplexity model and clears the keep bar, while
    same-script garbage scores strictly lower. The declared-lang column
    matches so require_lang_match doesn't mask the signal under test."""
    from xdan_dqa_spark.functions.perplexity import _lang_sentences

    langs = ["en", "es", "fr", "de", "zh", "ja", "ko", "ru", "ar"]
    rows = []
    for i, la in enumerate(langs):
        clean = "".join(_lang_sentences(la, seed=2030 + i, n_sents=12))
        rows.append((f"https://{la}.example.org/a", la, clean))
    df = spark.createDataFrame(rows, "url string, lang string, text string")
    got = {
        r["pred_lang"]: (r["keep"], r["score"])
        for r in score_webtext(df, text_col="text")
        .select("pred_lang", "keep", "score").collect()
    }
    assert set(got) == set(langs), f"mis-routed: {sorted(got)}"
    for la in langs:
        keep, score = got[la]
        assert keep, f"{la}: clean doc dropped (score {score})"

    # same-script garbage must score below the language's clean doc
    garble = {
        "en": "zxqwk jvvpt qqqzz xkcd mmmnb zzzyx " * 20,
        "ru": "щзх йцу фыв апр олд жэс мит ьбю " * 20,
        "ja": "ヴヵヶゐゑゎゔ" * 40,
    }
    grows = [(f"https://g-{la}.example.org/b", la, t) for la, t in garble.items()]
    gdf = spark.createDataFrame(grows, "url string, lang string, text string")
    gscores = {
        r["pred_lang"]: r["score"]
        for r in score_webtext(gdf, text_col="text").select("pred_lang", "score").collect()
    }
    for la, s in gscores.items():
        assert s < got[la][1], f"{la}: garbage {s} >= clean {got[la][1]}"

def test_und_ppl_fallback_is_cfg_tunable(spark):
    """ppl_good/ppl_bad semantics (round-3 advice): defaults resolve to the
    frozen pooled-'und' calibration (no behavior change), and user-set
    values genuinely retune the unknown-language ramp — 'und' must NOT be
    shadowed by the per-language CASE. Known languages stay pinned to
    their own frozen calibration regardless of cfg."""
    from xdan_dqa_spark.functions.perplexity import PPL_CALIBRATION
    from xdan_dqa_spark.operators.score import dimension_columns

    assert QualityConfig().resolved_ppl_levels() == PPL_CALIBRATION["und"]

    df = spark.createDataFrame([("und", 30.0), ("en", 30.0)], "pred string, ppl double")
    h = {
        "cjk_ratio": F.lit(0.0), "stopword_ratio": F.lit(0.3),
        "symbol_ratio": F.lit(0.0), "alpha_ratio": F.lit(0.9),
        "n_chars": F.lit(500.0), "mean_word_len": F.lit(5.0),
        "dup_line_frac": F.lit(0.0), "distinct_word_ratio": F.lit(0.9),
    }

    def fluency(cfg):
        dims = dimension_columns(h, F.col("pred"), F.lit(1.0), F.col("ppl"), None, cfg)
        rows = df.select("pred", dims["d_fluency"].alias("f")).collect()
        return {r["pred"]: r["f"] for r in rows}

    base = fluency(QualityConfig())
    # generous user calibration: ppl=30 is now "good" → und fluency jumps to 10
    tuned = fluency(QualityConfig(ppl_good=30.0, ppl_bad=300.0))
    assert tuned["und"] == 10.0 and tuned["und"] > base["und"]
    # en rides its own frozen calibration — unaffected by cfg tuning
    assert tuned["en"] == base["en"]


def test_keep_rate_curve_is_monotone_and_consistent(spark):
    from xdan_dqa_spark.plans.entry_queries import QUERIES

    rows = sorted(
        QUERIES["keep_rate_curve"](spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["threshold"],
    )
    assert [r["threshold"] for r in rows] == [5.0 + 0.5 * i for i in range(9)]
    keeps = [r["n_keep"] for r in rows]
    assert keeps == sorted(keeps, reverse=True)  # higher bar, fewer kept
    assert all(0.0 <= r["keep_rate"] <= 1.0 for r in rows)


def test_keep_rate_by_lang_accounts_every_doc(spark):
    from xdan_dqa_spark.plans.entry_queries import QUERIES, _t

    sf = "/root/testdata/sf0.001"
    rows = QUERIES["keep_rate_by_lang"](spark, sf).collect()
    n_total = _t(spark, sf, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_total
    assert all(0 <= r["n_keep"] <= r["n_docs"] for r in rows)
