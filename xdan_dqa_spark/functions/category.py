"""Deterministic 8-way topical category classifier.

Reproduces the reference's ``DataCategory`` contract (``src/models.py:6-15``,
labels configured in ``config/category.yaml:2-41``) without the LLM call:
each document gets exactly ONE of the eight enum labels, chosen by
keyword-marker scoring — the same padded-substring-count construction the
language-ID heuristic uses, so the whole classifier is a pure Column
expression tree (whole-stage codegen) with a bit-identical DuckDB oracle
twin (only length/replace/lower arithmetic).

Semantics:
  * score(category) = number of tokens (single-space split of
    lower(text), empties dropped) equal to any marker word — every
    occurrence counts. Computed as ONE ``regexp_count`` per category over
    the lowered text with zero-width token delimiters
    ``(?<![^ ])(?:m1|m2|…)(?![^ ])`` — 8 JVM regex passes per row total.
    (Two rejected formulations, both measured ~4 s/40k docs at sf0.1 vs
    ~0.5 s for this one: per-marker padded-replace counting re-scanned
    and copied the text 61×; per-marker ``array_remove`` counting
    allocated 61 array copies. The DuckDB oracle twin uses the
    list_filter token-equality form — same VALUES, no lookarounds needed
    since RE2 lacks them.);
  * label = argmax with ties broken by the fixed CATEGORY_PRIORITY order;
  * all-zero scores fall back to KNOWLEDGE_QA (web text is default-factual;
    the reference's only non-enum label is the 'ERROR' lane, which stays
    the P6 validation concern, not a topic).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import arg, lit

# Marker lexicons per reference category (config/category.yaml:2-41
# semantics: KNOWLEDGE_QA=factual Q&A / concept explanation, REASONING=
# logical derivation / problem solving, CODE_GENERATION=code writing /
# debugging, CREATIVE_WRITING=story / copy / content creation,
# CONVERSATION=daily + customer-service dialog, INSTRUCTION_FOLLOWING=
# task execution / step guidance, ANALYSIS_SUMMARY=summarization / data
# analysis / insight extraction, MULTIMODAL_UNDERSTANDING=image / video
# description and cross-modal tasks). Natural-language English web-text
# markers ONLY — no corpus-fitted aliases (the round-2 lexicon leaked
# data/compute tokens like "spark"/"window"/"merge" that mislabeled real
# text, e.g. any SQL tutorial became MULTIMODAL; realistic-snippet
# goldens in tests/test_category.py now pin label quality instead).
# Space-delimited lowercase word forms only, no regex metacharacters,
# disjoint across categories, so the token-count trick applies.
CATEGORY_MARKERS: dict[str, tuple[str, ...]] = {
    "CODE_GENERATION": ("def", "function", "import", "return", "class",
                        "println", "code", "compile", "debug", "variable",
                        "syntax", "python", "javascript", "api"),
    "REASONING": ("therefore", "because", "hence", "thus", "proof",
                  "theorem", "logic", "premise", "implies", "deduce",
                  "conclude", "solve"),
    "INSTRUCTION_FOLLOWING": ("step", "first", "next", "follow", "click",
                              "install", "instructions", "guide",
                              "tutorial", "press", "select", "procedure"),
    "ANALYSIS_SUMMARY": ("summary", "analysis", "conclusion", "overall",
                         "report", "trend", "insight", "findings",
                         "percent", "statistics", "compared"),
    "CREATIVE_WRITING": ("story", "once", "poem", "novel", "character",
                         "dream", "tale", "fiction", "chapter", "verse",
                         "wrote"),
    "CONVERSATION": ("hello", "hi", "thanks", "please", "you", "me",
                     "yeah", "customer", "chat", "sorry", "okay"),
    "MULTIMODAL_UNDERSTANDING": ("image", "video", "photo", "picture",
                                 "audio", "pixel", "caption", "camera",
                                 "visual", "depicts", "shown"),
    "KNOWLEDGE_QA": ("what", "who", "why", "when", "where", "answer",
                     "question", "definition", "fact", "explain",
                     "meaning", "known"),
}

# Argmax tie-break order (most-specific topical signal wins ties; the
# KNOWLEDGE_QA default sits last so it also absorbs all-zero rows).
CATEGORY_PRIORITY: tuple[str, ...] = (
    "CODE_GENERATION",
    "REASONING",
    "INSTRUCTION_FOLLOWING",
    "ANALYSIS_SUMMARY",
    "CREATIVE_WRITING",
    "CONVERSATION",
    "MULTIMODAL_UNDERSTANDING",
    "KNOWLEDGE_QA",
)

DEFAULT_CATEGORY = "KNOWLEDGE_QA"


def lower_sql(text: str) -> str:
    """lower(coalesce(text,'')) — compute ONCE (materialize as a real
    column in hot paths; every category regex scans it)."""
    return f"lower(coalesce({text}, ''))"


def _category_pattern(markers: tuple[str, ...]) -> str:
    """Zero-width token delimiters: counts every single-space token equal
    to a marker, one non-consuming match per occurrence (consuming ' m '
    delimiters would miss adjacent markers sharing a space).

    The delimiters are "not preceded / not followed by a non-space char",
    which holds exactly at a space or at an absolute input edge — the
    positions ``(?<=\\A| )``/``(?=\\z| )`` accept, tested in one
    lookaround each instead of an alternation (traced ``expr.category_s``
    on perfbench's 1 148-page snapshot: 1.19 → 0.84 s at local[4]).
    Like ``\\z`` and unlike ``$``, the negative lookahead fails before a
    FINAL line terminator: Java ``$`` without MULTILINE matches there, so
    text ending "marker\\n" would count the marker while the
    single-space-split token semantics (and the DuckDB oracle twin) yield
    zero — and trailing newlines are ubiquitous in web text."""
    return r"(?<![^ ])(?:" + "|".join(markers) + r")(?![^ ])"


def category_score_sql(
    t: str, markers: dict[str, tuple[str, ...]] | None = None
) -> dict[str, str]:
    """Per-category marker-count scores as SQL text over an ALREADY
    lowered column ``t`` — one regexp_count pass per category. Pass a
    materialized attribute so lower() runs once, not 8×. ``markers``
    overrides the default lexicon (same 8 keys) for domain-tuned
    deployments and tests."""
    return {
        cat: f"CAST(regexp_count({t}, {lit(_category_pattern(m))}) AS DOUBLE)"
        for cat, m in (markers or CATEGORY_MARKERS).items()
    }


def category_label_sql(scores: dict[str, str]) -> str:
    """Argmax + priority tie-break + KNOWLEDGE_QA fallback as SQL text over
    per-category score columns: the first category in CATEGORY_PRIORITY
    that attains a positive max wins. Pass MATERIALIZED column names (not
    inline score subtrees) in hot paths: the CASE holds 16 copies of the
    max over all eight scores, and attributes are free to duplicate while
    inline marker-count subtrees rely on codegen subexpression
    elimination."""
    best = "greatest(" + ", ".join(scores[c] for c in CATEGORY_PRIORITY) + ")"
    whens = " ".join(
        f"WHEN {best} > 0 AND {scores[c]} = {best} THEN '{c}'" for c in CATEGORY_PRIORITY
    )
    return f"CASE {whens} ELSE '{DEFAULT_CATEGORY}' END"


def lower_col(text: Column | str) -> Column:
    """``lower_sql`` as a Column."""
    return F.expr(lower_sql(arg(text)))


def category_scores_from_lower(
    t: Column | str, markers: dict[str, tuple[str, ...]] | None = None
) -> dict[str, Column]:
    """``category_score_sql`` as Columns."""
    return {k: F.expr(v) for k, v in category_score_sql(arg(t), markers).items()}


def category_label_from_scores(scores: dict[str, Column | str]) -> Column:
    """``category_label_sql`` as a Column."""
    return F.expr(category_label_sql({c: arg(v) for c, v in scores.items()}))


def category_expr(text: Column | str,
                  markers: dict[str, tuple[str, ...]] | None = None) -> Column:
    """The 8-way label as a single Column expression."""
    t = lower_sql(arg(text))
    return F.expr(category_label_sql(
        {c: f"({v})" for c, v in category_score_sql(t, markers).items()}))


# ------------------------------------------------------------------ oracle

def _marker_count_sql(marker: str, tvar: str = "t") -> str:
    return f"CAST(len(list_filter({tvar}, w -> w = '{marker}')) AS DOUBLE)"


def category_tokens_sql(text_expr: str = "text") -> str:
    """DuckDB twin of tokens_col — embed as
    ``WITH cat_tokens AS (SELECT *, <this> AS t FROM ...)``."""
    return (
        f"list_filter(string_split(lower(coalesce({text_expr}, '')), ' '), w -> w <> '')"
    )


def category_scores_sql(
    tvar: str = "t", markers: dict[str, tuple[str, ...]] | None = None
) -> dict[str, str]:
    return {
        cat: " + ".join(_marker_count_sql(m, tvar) for m in ms)
        for cat, ms in (markers or CATEGORY_MARKERS).items()
    }


def category_case_sql() -> str:
    """CASE over per-category score columns named s_<lower(cat)>."""
    cols = {c: f"s_{c.lower()}" for c in CATEGORY_PRIORITY}
    best = "greatest(" + ", ".join(cols[c] for c in CATEGORY_PRIORITY) + ")"
    whens = "\n".join(
        f"WHEN {best} > 0 AND {cols[c]} = {best} THEN '{c}'"
        for c in CATEGORY_PRIORITY
    )
    return f"CASE {whens} ELSE '{DEFAULT_CATEGORY}' END"
