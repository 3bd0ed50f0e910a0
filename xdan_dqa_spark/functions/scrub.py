"""Regex PII/toxicity scrub as a JVM ``regexp_replace`` chain.

Deterministic replacement for the reference's LLM rewrite step
(``DataTransformer.refine_output`` reference ``src/data_transformer.py:120-175``).
All patterns run JVM-side (one whole-stage-codegen span, no Python), in a
fixed order so output bytes are stable: SSN before phone (an SSN is a
substring-shaped phone), emails before the profanity word-boundary pass.

Byte-identity contract (SURVEY.md §7): scrub happens ONLY via JVM
``regexp_replace`` — never Python ``re`` — so one regex engine defines
the bytes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import arg, lit

# Masked-token vocabulary mirrors common web-pipeline conventions.
PROFANITY_LEXICON = ["damn", "hell", "crap", "bastard", "bollocks", "bugger"]

# Ordered (name, pattern, replacement). Patterns are ANSI-regex compatible
# (work identically under Java regex and RE2/DuckDB for oracle parity).
SCRUB_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    (
        "phone",
        r"(\+?[0-9]{1,2}[ ])?(\([0-9]{3}\)[ ]?|[0-9]{3}[- ])[0-9]{3}[- ][0-9]{4}",
        "<PHONE>",
    ),
    (
        "profanity",
        r"(?i)\b(" + "|".join(PROFANITY_LEXICON) + r")\b",
        "<PROFANITY>",
    ),
]


# Per rule, a cheap test on the ORIGINAL text that every text the rule can
# match implies: a literal each email ('@') and SSN ('-') holds, and the
# 3-digit run every phone holds. The earlier passes only replace matches by
# masks that hold no '@', '-' or digit (and join no two digit runs), so a
# pass the test rules out on the original cannot match the text it gets.
# The pass then returns its input unchanged, without a regex scan of the
# page. Profanity has no such test and always runs.
_GUARDS = {
    "email": "instr({t}, '@') > 0",
    "ssn": "instr({t}, '-') > 0",
    "phone": "{t} RLIKE '[0-9]{{3}}'",
}


def scrub_sql(text: str) -> str:
    """The replacement chain as SQL text — 4 regex passes, three of them
    behind an exact guard (``_GUARDS``), no counting."""
    t0 = f"coalesce({text}, '')"
    t = t0
    for name, pat, repl in SCRUB_RULES:
        done = f"regexp_replace({t}, {lit(pat)}, {lit(repl)})"
        t = (f"CASE WHEN {_GUARDS[name].format(t=t0)} THEN {done} ELSE {t} END"
             if name in _GUARDS else done)
    return t


# All mask tokens as one alternation of literals; anchored on '<' so the
# regex engine rejects non-'<' positions in one comparison.
_MASKS_RE = "|".join(repl for _n, _p, repl in SCRUB_RULES)


def scrub_count_cheap_sql(original: str, scrubbed: str) -> str:
    """Number of replacements made, without re-running the scrub regexes.

    Every match becomes exactly one mask token and no rule can destroy or
    create another rule's mask (patterns cannot match '<'-delimited
    tokens), so: replacements = masks(scrubbed) - masks(original). Each
    side is ONE regexp_count scan of the literal mask alternation (masks
    are disjoint literals, so total matches == per-token sum); the 4x
    ``replace``+length-diff form allocated a full string copy per mask per
    row (measured: scrub_count +8.9s → +4.2s /240k docs at local[16]).
    A page the chain left unchanged made no replacement, so it reads 0
    without either scan. Equals the per-rule ``regexp_count`` sum of
    ``scrub_columns`` (tested), at literal-scan cost instead of 4 extra
    regex passes."""
    masks = lit(_MASKS_RE)
    t = f"coalesce({original}, '')"
    return (f"CASE WHEN {scrubbed} = {t} THEN 0 ELSE CAST(regexp_count({scrubbed}, {masks})"
            f" - regexp_count({t}, {masks}) AS INT) END")


def scrub_columns(text: Column | str) -> tuple[Column, Column]:
    """Return (scrubbed_text, scrub_count) columns.

    Counts are taken on the intermediate text before each replacement so
    overlapping rule classes are not double-counted.
    """
    t = f"coalesce({arg(text)}, '')"
    counts = []
    for _name, pat, repl in SCRUB_RULES:
        counts.append(f"regexp_count({t}, {lit(pat)})")
        t = f"regexp_replace({t}, {lit(pat)}, {lit(repl)})"
    return F.expr(t), F.expr(f"CAST({' + '.join(counts)} AS INT)")


def scrub_expr(text: Column | str) -> Column:
    """``scrub_sql`` as a Column."""
    return F.expr(scrub_sql(arg(text)))


def scrub_count_cheap(original: Column | str, scrubbed: Column | str) -> Column:
    """``scrub_count_cheap_sql`` as a Column."""
    return F.expr(scrub_count_cheap_sql(arg(original), arg(scrubbed)))


def scrub_sql_expr(col_name: str) -> str:
    """The same chain as an ANSI SQL expression string (for oracle parity
    checks — DuckDB applies regexp_replace with the 'g' flag)."""
    expr = f"coalesce({col_name}, '')"
    for _name, pat, repl in SCRUB_RULES:
        p = pat.replace("'", "''")  # inline (?i) passes through — RE2 honors it
        expr = f"regexp_replace({expr}, '{p}', '{repl}', 'g')"
    return expr
