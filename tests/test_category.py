"""8-way DataCategory classifier: hand-computed labels, tie-breaks,
fallback, and pipeline wiring (SURVEY.md §5 test strategy)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.exactness import on_generated_pages, sql_mismatches
from xdan_dqa_spark.functions.category import (
    CATEGORY_MARKERS,
    CATEGORY_PRIORITY,
    DEFAULT_CATEGORY,
    _category_pattern,
    category_expr,
    category_score_sql,
    category_scores_from_lower,
    lower_col,
    lower_sql,
)
from xdan_dqa_spark.functions.sqltext import lit


def _label(spark, text: str) -> str:
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(category_expr(F.col("text")).alias("c")).collect()[0]["c"]


def test_clear_winners(spark):
    assert _label(spark, "def foo import os return x") == "CODE_GENERATION"
    assert _label(spark, "therefore the proof holds hence thus") == "REASONING"
    assert _label(spark, "step one then follow install the tool") == "INSTRUCTION_FOLLOWING"
    assert _label(spark, "summary of the analysis and conclusion") == "ANALYSIS_SUMMARY"
    assert _label(spark, "once upon a time a story of a novel") == "CREATIVE_WRITING"
    assert _label(spark, "hello thanks please call me") == "CONVERSATION"
    assert _label(spark, "the image shows a video frame photo") == "MULTIMODAL_UNDERSTANDING"
    assert _label(spark, "what is the answer to the question") == "KNOWLEDGE_QA"


def test_fallback_and_empty(spark):
    assert _label(spark, "zzz qqq unrelated-words") == DEFAULT_CATEGORY
    assert _label(spark, "") == DEFAULT_CATEGORY
    assert _label(spark, None) == DEFAULT_CATEGORY


def test_tie_break_priority(spark):
    # one CODE marker vs one KNOWLEDGE marker: CODE wins (earlier priority)
    assert _label(spark, "def what") == "CODE_GENERATION"
    # REASONING beats CONVERSATION on a 1-1 tie
    assert _label(spark, "because you") == "REASONING"


def test_case_insensitive_and_counting(spark):
    # 2 CONVERSATION hits vs 1 CODE hit
    assert _label(spark, "Hello THANKS def") == "CONVERSATION"
    # every token occurrence counts (exact token-equality semantics)
    assert _label(spark, "you a you a you def import") == "CONVERSATION"
    assert _label(spark, "you you you def import") == "CONVERSATION"


def test_every_category_reachable_and_enum_closed(spark):
    # each lexicon's own markers classify to that category
    for cat, markers in CATEGORY_MARKERS.items():
        text = " ".join(markers[:3]) + " " + " ".join(markers[:3])
        assert _label(spark, text) == cat, cat
    assert set(CATEGORY_MARKERS) == set(CATEGORY_PRIORITY)
    assert len(CATEGORY_PRIORITY) == 8


# Realistic web-text snippets (README, proof, recipe, support chat, photo
# caption, QA page, report, story …) — pins lexicon QUALITY on natural
# language, the round-2 gap where corpus-fitted aliases mislabeled real
# text (any SQL tutorial → MULTIMODAL). Several end in "\n"/"\r\n" to
# regression-test the \A/\z anchors (Java $ matches before a final line
# terminator, which diverged from the token semantics and the oracle).
REALISTIC_SNIPPETS = [
    ("CODE_GENERATION", "To install the library run pip install requests, then import requests and call the api with a function like def fetch(url): return requests.get(url)."),
    ("CODE_GENERATION", "This tutorial covers python syntax basics: how to declare a variable, write a function with def, and debug common errors in your code.\n"),
    ("CODE_GENERATION", "The compiler reported a syntax error on line 12. Check that every function has a return statement and that the class is imported correctly."),
    ("CODE_GENERATION", "SELECT name, count(*) FROM orders GROUP BY name ORDER BY count(*) DESC -- a basic sql query pattern explained with code samples in python and javascript"),
    ("REASONING", "Assume x is even. Then x = 2k for some integer k, hence x squared equals 4k squared, and therefore x squared is divisible by 4. This completes the proof."),
    ("REASONING", "If all men are mortal and Socrates is a man, it follows by logic that Socrates is mortal. The premise implies the conclusion; thus the syllogism is valid.\n"),
    ("REASONING", "To solve this puzzle, note that the first clue implies the second. Because the two statements cannot both hold, we deduce the butler did it, therefore case closed."),
    ("INSTRUCTION_FOLLOWING", "Step 1: Preheat the oven to 180C. Step 2: Mix flour and sugar. Next, fold in the eggs. Follow the timing closely and press the dough flat before baking."),
    ("INSTRUCTION_FOLLOWING", "To reset your router, first unplug it, next wait ten seconds, then press and hold the reset button. Follow these instructions exactly or the settings will not clear.\n"),
    ("INSTRUCTION_FOLLOWING", "Setup guide: click the download link, run the installer, select the default options, and follow the on-screen instructions to finish the procedure."),
    ("ANALYSIS_SUMMARY", "Executive summary: revenue grew 12 percent year over year. The report highlights a downward trend in churn and the overall conclusion is cautiously optimistic."),
    ("ANALYSIS_SUMMARY", "Our analysis of the survey statistics shows that 64 percent of respondents preferred option B. The key findings and a short summary are presented below.\n"),
    ("ANALYSIS_SUMMARY", "In conclusion, the quarterly report shows a clear trend: compared with last year, costs fell while the overall insight remains that demand is seasonal."),
    ("CREATIVE_WRITING", "Once upon a time, in a kingdom by the sea, there lived a lonely lighthouse keeper whose only friend was a seagull. The story begins on a stormy night."),
    ("CREATIVE_WRITING", "She closed the novel and stared out the window. The character she loved had died in the final chapter, and the tale felt unfinished, like a dream interrupted.\n"),
    ("CREATIVE_WRITING", "The poem's second verse turns from grief to hope, and the poet wrote the final chapter of the collection as a letter to her younger self, a fiction within a fiction."),
    ("CONVERSATION", "Hi! Thanks for reaching out. Sorry about the delay — can you tell me your order number please? Okay, I see it now. You should receive a refund within two days."),
    ("CONVERSATION", "Hello, welcome to support chat. How can I help you today? Please hold on while I check that for you. Thanks for your patience!\n"),
    ("CONVERSATION", "Yeah, I know, sorry I missed your call. Are you free later? Okay cool, talk to you then. Thanks!"),
    ("MULTIMODAL_UNDERSTANDING", "The photo depicts a crowded market at dusk; the image is slightly blurred and the camera angle emphasizes the neon signs shown in the background."),
    ("MULTIMODAL_UNDERSTANDING", "This video caption describes each frame: the opening shot is a wide visual of the coastline, and the audio track fades as the picture cuts to a close-up.\n"),
    ("MULTIMODAL_UNDERSTANDING", "Each pixel in the image corresponds to one sensor reading; the caption below the picture explains what the camera captured and what is shown in the photo."),
    ("KNOWLEDGE_QA", "What is photosynthesis? It is the process by which plants convert light into chemical energy. The answer involves chlorophyll, and this fact explains why leaves are green."),
    ("KNOWLEDGE_QA", "Who invented the telephone? The commonly known answer is Alexander Graham Bell. The definition of invention matters here — what counts as the first working device?\n"),
    ("KNOWLEDGE_QA", "Why is the sky blue? The question has a precise answer: Rayleigh scattering. To explain the meaning of that term, consider how light interacts with molecules."),
    ("KNOWLEDGE_QA", "Mount Kilimanjaro is the highest mountain in Africa. It is a dormant volcano in Tanzania. Its summit is about 5895 meters above sea level."),
    ("INSTRUCTION_FOLLOWING", "Recipe for pancakes: whisk two eggs with milk, add flour gradually, and cook on a hot griddle. First grease the pan, next pour the batter, then flip when bubbles form."),
    ("CODE_GENERATION", "git clone the repository, then run npm install. The javascript bundler reads the config and the api server starts on port 3000. Debug failures with npm run debug."),
    ("CONVERSATION", "Thanks so much for the birthday wishes everyone! You all made me feel special. Hope to see you at the party — please RSVP if you can make it."),
    ("ANALYSIS_SUMMARY", "The benchmark findings: median latency dropped 40 percent after the cache change. Overall, the statistics support rolling out the fix; see the full report for details."),
    ("REASONING", "the argument is sound because every premise is true and the logic is valid therefore\n"),
    ("CONVERSATION", "okay thanks hello\r\n"),
]


def test_realistic_snippet_goldens(spark):
    df = spark.createDataFrame(REALISTIC_SNIPPETS, "expected string, text string")
    rows = df.select(
        "expected", "text", category_expr(F.col("text")).alias("got")
    ).collect()
    mislabels = [
        (r["expected"], r["got"], r["text"][:60]) for r in rows
        if r["expected"] != r["got"]
    ]
    assert not mislabels, mislabels


def test_pipeline_carries_category_and_token_info(scored):
    cols = scored.columns
    assert "category" in cols and "token_info" in cols
    row = scored.select("category", "token_info").first()
    assert row["category"] in CATEGORY_PRIORITY
    ti = row["token_info"]
    assert ti["total_tokens"] == ti["input_tokens"] + ti["output_tokens"]
    assert ti["currency"] == "CNY"
    assert ti["estimated_cost"] >= 0.0


def test_allowed_categories_filter(spark, webtext):
    from xdan_dqa_spark.operators.score import QualityConfig
    from xdan_dqa_spark.pipeline import score_webtext

    cfg = QualityConfig(allowed_categories=("CODE_GENERATION",))
    scored = score_webtext(webtext, cfg)
    bad = scored.filter(F.col("keep") & (F.col("category") != "CODE_GENERATION"))
    assert bad.count() == 0


# Delimiter edge cases for the marker regex: adjacent markers sharing one
# space, a marker before a final newline (no token: "me\n"), after a tab
# (no token: "x\tyou"), at the text's start and end, upper case, and the
# two letters whose lower() differs from case-insensitive matching.
MARKER_EDGES = [
    "you me", "you me you", "call me\n", "x\tyou", "you", "me and you",
    "YOU Me\r\n", " you  me ", "İn the iſt", "def\ndef def", "",
]


def _marker_counts_oracle(text: str) -> dict[str, int]:
    """Pure-Python token semantics: single-space split of the lowered
    text, empties dropped, every token equal to a marker counts."""
    tokens = [t for t in text.lower().split(" ") if t]
    return {cat: sum(t in ms for t in tokens) for cat, ms in CATEGORY_MARKERS.items()}


def test_marker_counts_match_token_oracle(spark, webtext):
    texts = [r["text"] for r in webtext.select("text").collect()] + MARKER_EDGES
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    scores = category_scores_from_lower(lower_col("text"))
    rows = df.select("i", *[v.alias(k) for k, v in scores.items()]).collect()
    assert len(rows) == len(texts)
    bad = [(texts[r["i"]][:60], cat, r[cat], want)
           for r in rows
           for cat, want in _marker_counts_oracle(texts[r["i"]]).items()
           if r[cat] != want]
    assert not bad, bad[:5]
    edges = {texts[r["i"]]: r["CONVERSATION"] for r in rows[-len(MARKER_EDGES):]}
    assert edges["you me"] == 2 and edges["you me you"] == 3
    assert edges["call me\n"] == 0 and edges["x\tyou"] == 0
    assert edges["YOU Me\r\n"] == 1 and edges[" you  me "] == 2


# --- exactness of the one-pass category scores -------------------------------

def _category_mismatches(spark, texts):
    """The one-extraction scores against the previous form: one
    regexp_count of each category's own pattern over the lowered text."""
    previous = {cat: f"CAST(regexp_count(_t, {lit(_category_pattern(m))}) AS DOUBLE)"
                for cat, m in CATEGORY_MARKERS.items()}
    return sql_mismatches(spark, texts, category_score_sql("_t"), previous,
                          levels=({"_t": lower_sql("text")},))


def test_category_scores_equal_previous_sql_on_fixture(spark, webtext):
    texts = [r["text"] for r in webtext.select("text").collect()] + MARKER_EDGES
    texts += ["def definition defdef def", "definition\ndef", "you me you me"]
    bad = _category_mismatches(spark, texts)
    assert not bad, bad[:5]


def test_category_scores_equal_previous_sql_on_generated_pages(spark):
    def check(texts):
        bad = _category_mismatches(spark, texts)
        assert not bad, bad[:5]

    on_generated_pages(check)
