"""Scrub chain: byte-exact goldens + idempotence property (SURVEY.md §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.exactness import on_generated_pages, sql_mismatches
from xdan_dqa_spark.functions.scrub import (
    _MASKS_RE,
    SCRUB_RULES,
    scrub_columns,
    scrub_count_cheap_sql,
    scrub_sql,
)
from xdan_dqa_spark.functions.sqltext import lit
from xdan_dqa_spark.functions.tokenize import NONWS_PLUS

CASES = [
    # (input, expected_scrubbed, expected_count)
    ("mail me at john.doe@example.com please", "mail me at <EMAIL> please", 1),
    ("SSN 123-45-6789 on file.", "SSN <SSN> on file.", 1),
    ("call (555) 123-4567 or 555-987-6543", "call <PHONE> or <PHONE>", 2),
    ("call +1 212 555 0199 today", "call <PHONE> today", 1),
    ("That damn thing. What the HELL.", "That <PROFANITY> thing. What the <PROFANITY>.", 2),
    ("clean text, nothing here", "clean text, nothing here", 0),
    ("", "", 0),
    # SSN must win over phone on the xxx-xx-xxxx shape
    ("id 123-45-6789 and phone 555-123-4567", "id <SSN> and phone <PHONE>", 2),
    # profanity as substring must NOT be masked (word boundary)
    ("hello shellfish scrapper", "hello shellfish scrapper", 0),
    ("a@b.co x@y.io", "<EMAIL> <EMAIL>", 2),
]


def _scrub(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    s, c = scrub_columns(F.col("text"))
    return df.select(F.col("text"), s.alias("s"), c.alias("c")).collect()


def test_scrub_goldens(spark):
    rows = _scrub(spark, [t for t, _, _ in CASES])
    expected = {t: (s, c) for t, s, c in CASES}
    for r in rows:
        exp_s, exp_c = expected[r["text"]]
        assert r["s"] == exp_s, f"scrub({r['text']!r}) = {r['s']!r}"
        assert r["c"] == exp_c, f"count({r['text']!r}) = {r['c']}"


def test_scrub_idempotent(spark, webtext):
    """scrub(scrub(x)) == scrub(x) on the full fixture table."""
    s1, _ = scrub_columns(F.col("text"))
    df1 = webtext.select(F.col("url"), s1.alias("once"))
    s2, c2 = scrub_columns(F.col("once"))
    bad = df1.select((s2 != F.col("once")).alias("diff"), c2.alias("c")).filter(
        F.col("diff") | (F.col("c") > 0)
    )
    assert bad.count() == 0


def test_scrub_count_cheap_equals_regex_count(spark, webtext):
    """The pipeline's literal mask-token count must equal the per-rule
    regexp_count sum on every fixture doc (incl. docs that already contain
    literal mask tokens)."""
    from xdan_dqa_spark.functions.scrub import scrub_count_cheap, scrub_expr

    extra = spark.createDataFrame(
        [("u1", "has a literal <EMAIL> token and real a@b.co",),
         ("u2", "<PHONE> <SSN> <PROFANITY> only literals",)],
        "url string, text string",
    )
    df = webtext.select("url", "text").unionByName(extra)
    s_ref, c_ref = scrub_columns(F.col("text"))
    cheap = scrub_count_cheap(F.col("text"), scrub_expr(F.col("text")))
    bad = df.select(c_ref.alias("ref"), cheap.alias("cheap")).filter(
        F.col("ref") != F.col("cheap")
    )
    assert bad.count() == 0


def test_scrub_null_safe(spark):
    df = spark.createDataFrame([(None,)], "text string")
    s, c = scrub_columns(F.col("text"))
    row = df.select(s.alias("s"), c.alias("c")).collect()[0]
    assert row["s"] == "" and row["c"] == 0


def test_pii_prevalence_progressive_no_double_count(spark):
    from xdan_dqa_spark.plans.entry_queries import q_pii_prevalence

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs = spark.createDataFrame(
            [
                # SSN is phone-shaped: progressive counting must report it
                # once (ssn), not also as a phone.
                (1, "call 123-45-6789 now", "en", "a", 20),
                (2, "mail john.doe@example.com or damn it", "en", "a", 30),
                (3, "clean text here", "en", "b", 15),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        docs.write.parquet(os.path.join(td, "documents.parquet"))
        rows = {r["source"]: r for r in q_pii_prevalence(spark, td).collect()}
    a = rows["a"]
    assert a["n_ssn"] == 1 and a["n_phone"] == 0
    assert a["n_email"] == 1 and a["n_profanity"] == 1
    assert a["n_docs_with_pii"] == 2
    b = rows["b"]
    assert b["n_docs_with_pii"] == 0 and b["n_email"] == 0


# --- exactness of the guarded chain ------------------------------------------

def _previous_scrub_sql(text: str) -> dict[str, str]:
    """scrubbed_text and scrub_count as written before the guards: every
    pass on every page, and both mask counts on every page."""
    t = f"coalesce({text}, '')"
    for _name, pat, repl in SCRUB_RULES:
        t = f"regexp_replace({t}, {lit(pat)}, {lit(repl)})"
    masks = lit(_MASKS_RE)
    return {"s": t, "c": f"CAST(regexp_count({t}, {masks})"
                         f" - regexp_count(coalesce({text}, ''), {masks}) AS INT)"}


def _scrub_mismatches(spark, texts):
    current = {"s": scrub_sql("text"), "c": scrub_count_cheap_sql("text", scrub_sql("text"))}
    return sql_mismatches(spark, texts, current, _previous_scrub_sql("text"))


def test_guarded_scrub_equals_previous_sql_on_fixture(spark, webtext):
    texts = [r["text"] for r in webtext.select("text").collect()] + [t for t, _, _ in CASES]
    bad = _scrub_mismatches(spark, texts)
    assert not bad, bad[:5]


def test_guarded_scrub_equals_previous_sql_on_generated_pages(spark):
    def check(texts):
        bad = _scrub_mismatches(spark, texts)
        assert not bad, bad[:5]

    on_generated_pages(check)


def _output_token_mismatches(scored):
    """The pipeline's output_tokens against the previous form: the \\S+
    runs of the scrubbed text, counted on every page."""
    previous = f"CAST(regexp_count(scrubbed_text, {lit(NONWS_PLUS)}) AS BIGINT)"
    return (scored.selectExpr("extracted_text", "token_info.output_tokens AS new",
                              f"{previous} AS old")
            .filter("new <> old").collect())


def test_output_tokens_equal_previous_sql(spark, scored):
    from xdan_dqa_spark.pipeline import score_webtext

    assert not _output_token_mismatches(scored)

    def check(texts):
        df = spark.createDataFrame([(f"u{i}", t) for i, t in enumerate(texts)],
                                   "url string, text string")
        bad = _output_token_mismatches(score_webtext(df, text_col="text"))
        assert not bad, bad[:5]

    on_generated_pages(check, examples=3)
