"""Unit tests: each heuristic Column expr vs a hand-computed oracle
(SURVEY.md §5 test strategy)."""

from __future__ import annotations

import unicodedata

import pytest
from pyspark.sql import functions as F

from xdan_dqa_spark.functions.heuristics import (
    _STOPWORD_RE,
    STOPWORDS,
    heuristic_columns,
)

def _signals(spark, text: str) -> dict[str, float]:
    df = spark.createDataFrame([(text,)], "text string")
    h = heuristic_columns(F.col("text"))
    row = df.select(*[c.alias(k) for k, c in h.items()]).collect()[0]
    return row.asDict()


def test_simple_english(spark):
    got = _signals(spark, "the cat and the dog")
    assert got["n_chars"] == 19.0
    assert got["n_words"] == 5.0
    assert got["mean_word_len"] == pytest.approx(3.0)
    # stopwords: the, and, the → 3/5
    assert got["stopword_ratio"] == pytest.approx(0.6)
    assert got["alpha_ratio"] == 1.0
    assert got["dup_line_frac"] == 0.0
    assert got["distinct_word_ratio"] == pytest.approx(0.8)  # 4 distinct / 5


def test_empty_and_whitespace(spark):
    for t in ["", "   ", "\n\t "]:
        got = _signals(spark, t)
        assert got["n_words"] == 0.0
        assert got["stopword_ratio"] == 0.0
        assert got["mean_word_len"] == 0.0
        assert got["distinct_word_ratio"] == 1.0


def test_duplicate_lines(spark):
    got = _signals(spark, "a\nb\nb\nb")
    assert got["dup_line_frac"] == pytest.approx(0.5)
    # blank lines are ignored
    got = _signals(spark, "a\n\n\nb")
    assert got["dup_line_frac"] == 0.0


def test_symbol_ratio(spark):
    got = _signals(spark, "x @@ ## $$")
    assert got["symbol_ratio"] == pytest.approx(6.0 / 4.0)
    assert got["alpha_ratio"] == pytest.approx(0.25)


def test_cjk(spark):
    got = _signals(spark, "的的的的")
    assert got["cjk_ratio"] == 1.0
    assert got["n_cjk"] == 4.0
    got = _signals(spark, "ab的的")
    assert got["cjk_ratio"] == pytest.approx(0.5)


def test_nbsp_token_counts_once(spark):
    # 'ab\xa0cd' is ONE Java-\s token (NBSP is not ASCII whitespace); the
    # alpha regex must count it once — with (?U) it counted twice and the
    # ratio exceeded 1.0 (ADVICE r1).
    got = _signals(spark, "ab\xa0cd")
    assert got["n_words"] == 1.0
    assert got["alpha_ratio"] == 1.0
    got = _signals(spark, "ok ab\xa0cd 123")
    assert got["n_words"] == 3.0
    assert got["alpha_ratio"] == pytest.approx(2.0 / 3.0)


def test_stopword_punctuation_stripped(spark):
    # punctuation must not block stopword matches: "The," → "the"
    got = _signals(spark, "The, cat.")
    assert got["stopword_ratio"] == pytest.approx(0.5)


def test_pandas_oracle_on_fixture_docs(spark, webtext):
    """Cross-check n_chars/n_words on 50 fixture docs vs pandas."""
    pdf = webtext.select("url", "text").limit(50).toPandas()
    h = heuristic_columns(F.col("text"))
    got = (
        webtext.select("url", h["n_chars"].alias("nc"), h["n_words"].alias("nw"))
        .join(spark.createDataFrame(pdf[["url"]]), "url", "left_semi")
        .toPandas()
        .set_index("url")
    )
    for _, r in pdf.iterrows():
        assert got.loc[r["url"], "nc"] == float(len(r["text"]))
        assert got.loc[r["url"], "nw"] == float(len(r["text"].split()))


# Case and boundary edge cases for the stopword regex: 'İn' and 'iſt' match
# 'in'/'ist' under (?iU) (simple case folding) although lower() maps them
# elsewhere; '_' and digits are word chars, so 'the_end' and 'the2' are
# single non-stopword words; a prefix or extension of a stopword
# ('th', 'thee', 'dess') is no hit.
STOPWORD_EDGES = [
    "İn the iſt", "THE And OF", "the_end the2 theory th thee", "de des der dess dem",
    "tab\tthe\nand\r\nof", "Für más über", "(the) [and], {of}.", "",
    "это и в не", "في من على", "그리고 하지만 수",
]


def _java_word_char(ch: str) -> bool:
    # Java (?U)\w: Alphabetic, Nd, Mn/Mc/Me, Pc and the join controls.
    cat = unicodedata.category(ch)
    return cat[0] == "L" or cat in ("Nd", "Nl", "Mn", "Mc", "Me", "Pc") or ch in "\u200c\u200d"


def _java_fold(ch: str) -> str:
    # Java's (?iU) single-char match: toLowerCase(toUpperCase(ch)) with
    # SIMPLE (one-char) case mappings; Python's str methods use the full
    # ones, so keep a char whose full mapping is longer than one char.
    up = ch.upper() if len(ch.upper()) == 1 else ch
    low = up.lower()
    return low[0] if len(low) > 1 else low


def _stopword_hits_oracle(text: str) -> int:
    """Maximal word-char runs equal to a stopword under simple folding."""
    words, run = [], ""
    for ch in text + " ":
        if _java_word_char(ch):
            run += ch
        elif run:
            words.append(run)
            run = ""
    return sum("".join(map(_java_fold, w)) in STOPWORDS for w in words)


def test_stopword_hits_match_token_oracle(spark, webtext):
    """The prefix-factored regex counts exactly what the flat 125-word
    alternation counts, and both equal a pure-Python word oracle."""
    flat = r"(?iU)\b(?:" + "|".join(STOPWORDS) + r")\b"
    texts = [r["text"] for r in webtext.select("text").collect()] + STOPWORD_EDGES
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    rows = df.select(
        "i",
        F.regexp_count("text", F.lit(_STOPWORD_RE)).alias("factored"),
        F.regexp_count("text", F.lit(flat)).alias("flat"),
    ).collect()
    assert len(rows) == len(texts)
    bad = [(texts[r["i"]][:60], r["factored"], r["flat"], _stopword_hits_oracle(texts[r["i"]]))
           for r in rows
           if not r["factored"] == r["flat"] == _stopword_hits_oracle(texts[r["i"]])]
    assert not bad, bad[:5]
    assert sum(r["factored"] for r in rows) > 1000  # the fixture exercises the rule
    edges = {texts[r["i"]]: r["factored"] for r in rows[-len(STOPWORD_EDGES):]}
    assert edges["İn the iſt"] == 3
    assert edges["the_end the2 theory th thee"] == 0
    assert edges["de des der dess dem"] == 4
