"""Shared inputs for the exactness tests of the scoring SQL: generated
pages built from pieces that sit on the edges a rewritten formula must
get right, and a check that runs a current and a previous SQL text side
by side over the same pages."""

from __future__ import annotations

from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st

PIECES = [
    # whitespace: Java \s members, NBSP (not \s), blank lines, CRLF
    " ", "  ", "\t", "\n", "\r\n", "\n\n", " \n ", "\u00a0", "\x0b", "\f",
    # scrub guards: '@', '-', digit runs that do and do not straddle space
    "@", "-", "a@b.co", "john.doe@example.com", "x@y", "12", "123", "4567",
    "12 345", "98765", "1-2", "555-123-4567", "(555) 123-4567", "+1 212 555 0199",
    "123-45-6789", "555 987 6543", "<EMAIL>", "<PHONE>", "damn", "Hell",
    # case folding that lower() and (?iU) disagree on
    "\u0130", "\u0130n", "\u017f", "i\u017ft", "\u212a", "\u212aelvin",
    # category markers, their prefixes and extensions
    "def", "definition", "Def", "DEF", "you", "me", "story", "image", "what",
    "hello", "step", "steps",
    # stopwords, CJK, symbols
    "the", "and", "of", "Der", "的", "日本", "##", "$$", "=+", "\\", "`",
    # repeated lines
    "same line", "same line\n",
]

_TEXT = st.lists(st.sampled_from(PIECES) | st.text(max_size=4), max_size=40).map("".join)
_PAGES = st.lists(st.none() | _TEXT, min_size=60, max_size=60)


def on_generated_pages(check, examples: int = 6) -> None:
    """Run ``check(texts)`` on ``examples`` derandomized batches of
    generated pages (None included), so a run is reproducible. A failing
    batch is reported as generated, not shrunk: each shrink step is a
    Spark job, and ``check`` names the pages that differ."""

    @settings(derandomize=True, database=None, deadline=None, max_examples=examples,
              phases=(Phase.generate,),
              suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
    @given(_PAGES)
    def run(texts):
        check(texts)

    run()


def sql_mismatches(spark, texts, current: dict[str, str], previous: dict[str, str],
                   levels: tuple[dict[str, str], ...] = ()) -> list[tuple]:
    """(text, key, current value, previous value) wherever the two SQL texts
    of one key disagree over a ``text`` column holding ``texts``.
    ``levels`` are columns (name → SQL) projected first, in order, as the
    pipeline materialises them."""
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    for level in levels:
        df = df.selectExpr("*", *[f"{sql} AS {name}" for name, sql in level.items()])
    rows = df.selectExpr(
        "i",
        *[f"{current[k]} AS `new_{k}`" for k in current],
        *[f"{previous[k]} AS `old_{k}`" for k in current],
    ).collect()
    assert len(rows) == len(texts)
    return [(texts[r["i"]], k, r[f"new_{k}"], r[f"old_{k}"])
            for r in rows for k in current if r[f"new_{k}"] != r[f"old_{k}"]]
