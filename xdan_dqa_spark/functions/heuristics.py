"""Gopher/C4-style heuristic quality rules as pure Column expressions.

These are the deterministic replacement for the reference's LLM-scored
quality dimensions (reference ``src/processor.py:148-186`` builds an LLM
prompt; ``config/quality_metrics.yaml`` defines the five dimensions).
Here every signal is a JVM-side expression — whole-stage-codegen'd,
no Python in the loop, so they cost ~nothing at 100 TB. Each signal is
written once as Spark SQL text over column names (``heuristic_sql``);
the pipeline projects the text directly and ``heuristic_columns`` wraps
it in ``F.expr``.

Rule provenance (public): Gopher (Rae et al. 2021 §A1.1) and C4
(Raffel et al. 2020 §2.2) heuristic filters.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import arg, lit
from .tokenize import NONWS, WS, WS_CHARS, WS_PLUS

# Union of high-frequency stopwords for the space-segmented languages we
# classify; used for the stopword-ratio rule (Gopher requires >=2 of a
# small stopword set; we use a ratio for a graded signal). Non-latin
# entries (ru/ar/ko — all space-segmented) cannot match latin-script text,
# so extending the set never moves latin goldens; unsegmented scripts
# (zh/ja) use the CJK-ratio clarity branch instead (operators/score.py).
STOPWORDS = sorted(
    {
        # en
        "the", "and", "of", "to", "in", "is", "that", "with", "for", "was",
        "on", "as", "are", "this", "be", "have", "from", "they", "which",
        # es
        "el", "la", "los", "las", "que", "de", "en", "un", "una", "por",
        "con", "para", "como", "más", "pero", "sus", "fue", "esta",
        # fr
        "le", "les", "des", "une", "et", "qui", "dans", "ce", "il", "ne",
        "sur", "se", "pas", "plus", "par", "je", "avec", "tout", "mais",
        # de
        "der", "die", "und", "den", "von", "zu", "das", "mit", "sich",
        "des", "auf", "für", "ist", "im", "dem", "nicht", "ein", "eine",
        # ru
        "и", "в", "не", "на", "что", "он", "она", "это", "как", "мы",
        "по", "но", "из", "за", "то", "все", "так", "его", "же", "от",
        # ar
        "في", "من", "على", "أن", "إلى", "عن", "مع", "هذا", "هذه", "التي",
        "الذي", "كان", "لا", "ما", "أو", "ثم", "قد", "كل",
        # ko (frequent standalone function words; particles are suffixes
        # and never match with word boundaries, so they are not listed)
        "그리고", "하지만", "있는", "없는", "같은", "또는", "저는", "그는",
        "것이", "수", "있다", "없다", "한다", "했다",
    }
)

SYMBOL_CLASS = r"[@#$%^&*{}<>|\\~`=+]"
CJK_CLASS = r"[一-鿿぀-ヿ]"

# Java \s == [ \t\n\x0B\f\r]: the literal char set for translate-based
# whitespace stripping (translate is a single-pass char map — no regex).
_WS_CHARS = " \t\n\x0b\f\r"
# The symbol class as a literal char list for translate (== SYMBOL_CLASS).
_SYMBOL_CHARS = "@#$%^&*{}<>|\\~`=+"


def _factored(words: list[str]) -> str:
    """A regex matching exactly the strings in ``words``, prefix-factored
    into a trie: ``de|den|der|des`` → ``de[nrs]?``. The regex engine then
    tests each leading char once instead of once per word that starts
    with it."""
    heads: dict[str, list[str]] = {}
    for w in words:
        if w:
            heads.setdefault(w[0], []).append(w[1:])
    if not heads:
        return ""
    alts = [h + _factored(tails) for h, tails in sorted(heads.items())]
    if len(alts) == 1 and len(alts[0]) > 1:
        body, atom = alts[0], False
    elif all(len(a) == 1 for a in alts):
        body, atom = (alts[0] if len(alts) == 1 else "[" + "".join(alts) + "]"), True
    else:
        body, atom = "(?:" + "|".join(alts) + ")", True
    if "" not in words:
        return body
    return body + "?" if atom else f"(?:{body})?"


# One compiled alternation; (?iU) = case-insensitive + unicode word classes
# (plain \b is ASCII-\w-based and never matches at a leading 'ü').
# Prefix factoring is exact: every stopword is all word chars, so between
# the two \b at most one stopword can match at a given start — the whole
# word run — whatever the alternation's shape (traced
# expr.rule.stopword_ratio_s on perfbench's 1 148-page snapshot: 0.92 →
# 0.60 s at local[4] against the flat alternation). The rule stays on the
# original text under (?iU): lower() and (?iU) disagree on U+0130 'İ' and
# U+017F 'ſ', so moving it onto the lowered text would change hits.
assert all(w.isalnum() for w in STOPWORDS)
_STOPWORD_RE = r"(?iU)\b" + _factored(STOPWORDS) + r"\b"
# A line break with the whitespace around it (dup_line_frac's splitter).
_LINE_SEP_RE = f"{WS}*\\n{WS}*"
# First letter of a token, then the rest of it (alpha_ratio).
_LETTER_TOKEN_RE = r"[^\p{L}" + WS_CHARS + r"]*\p{L}" + NONWS + "*"


def words_sql(text: str) -> str:
    """Whitespace tokenization; empty tokens from leading/trailing
    whitespace are dropped (JVM trim only strips ASCII space)."""
    return f"filter(split(coalesce({text}, ''), {lit(WS_PLUS)}), w -> length(w) > 0)"


def heuristic_sql(text: str, words: str) -> dict[str, str]:
    """Every heuristic signal as SQL text over the column (or SQL
    expression) ``text`` and its token array ``words`` (``words_sql``).

    * n_chars, n_words — plain lengths.
    * mean_word_len — Σ(token lengths) == count of non-whitespace chars ==
      length after translate-deleting the 6 Java-\\s chars: pure length
      arithmetic (codegen), no regex pass. Gopher keeps mean in [3, 10].
    * stopword_ratio — stopword hits per token (capped at 1): one
      regexp_count of the 125-word factored ``_STOPWORD_RE`` instead of a
      per-token lambda with an array_contains (~10x slower). Gopher
      requires >=2 of a small stopword set; a ratio gives a graded signal.
    * symbol_ratio — symbols per word, counted as the length diff after
      translate-deleting ``SYMBOL_CLASS``: identical to a regexp_count but
      a single char-map pass (~3x). Gopher drops >0.1 for #/ellipsis; the
      class here is wider, suited to web spam.
    * dup_line_frac — fraction of non-empty lines that duplicate an
      earlier line (C4/Gopher). One greedy split on ``\\s*\\n\\s*`` yields
      the trimmed lines with blank lines merged into the separator, so a
      native ``array_remove`` of the at-most-two boundary empties replaces
      per-line trim/filter lambdas (measured +6.7s/240k docs at local[16]).
      Lines compare after a FULL Java-\\s trim at line boundaries — '  foo'
      and '\\tfoo' duplicate 'foo' (intentional, frozen in the goldens:
      indentation noise should not defeat the filter).
    * alpha_ratio — fraction of tokens holding a letter (any script);
      Gopher requires >=80%. Tokens are maximal ``\\S+`` runs, so one
      regexp_count of ``[^\\p{L}\\s]*\\p{L}\\S*`` matches once per
      letter-bearing token (measured +4.1s → +0.9s /240k docs at
      local[16] against a per-token rlike lambda). The whitespace class is
      spelled explicitly (tokenize.WS_CHARS) so a token is exactly one
      ``words_sql`` token: under (?U) a token holding U+00A0 (extract.py
      emits it for &nbsp;) would count twice and the ratio could pass 1.0.
    * cjk_ratio, n_cjk — CJK share of the characters and the absolute CJK
      count: the stopword and word-count stand-ins for unsegmented scripts.
    * distinct_word_ratio — |distinct lowercased tokens| / |tokens|; low
      values flag keyword stuffing (Gopher's repeated-n-gram family, n=1).
      Native array_distinct, O(n) codegen — the max-single-token-frequency
      variant needs an O(n²) interpreted nested HOF.
    """
    t = f"coalesce({text}, '')"
    n = f"size({words})"

    def per_word(value: str, empty: str = "0.0D") -> str:
        return f"CASE WHEN {n} = 0 THEN {empty} ELSE {value} END"

    lines = f"array_remove(split({t}, {lit(_LINE_SEP_RE)}), '')"
    cjk = f"regexp_count({t}, {lit(CJK_CLASS)})"
    letter_tokens = f"regexp_count({t}, {lit(_LETTER_TOKEN_RE)})"
    return {
        "n_chars": f"CAST(length({t}) AS DOUBLE)",
        "n_words": f"CAST({n} AS DOUBLE)",
        "mean_word_len": per_word(
            f"CAST(length(translate({t}, {lit(_WS_CHARS)}, '')) AS DOUBLE) / {n}"),
        "stopword_ratio": per_word(
            f"least(CAST(regexp_count({t}, {lit(_STOPWORD_RE)}) AS DOUBLE) / {n}, 1.0D)"),
        "symbol_ratio": per_word(
            f"CAST(length({t}) - length(translate({t}, {lit(_SYMBOL_CHARS)}, '')) AS DOUBLE)"
            f" / {n}"),
        "dup_line_frac": (
            f"CASE WHEN size({lines}) <= 1 THEN 0.0D ELSE CAST(size({lines})"
            f" - size(array_distinct({lines})) AS DOUBLE) / size({lines}) END"),
        "alpha_ratio": per_word(f"CAST({letter_tokens} AS DOUBLE) / {n}"),
        "cjk_ratio": (f"CASE WHEN length({t}) = 0 THEN 0.0D"
                      f" ELSE CAST({cjk} AS DOUBLE) / length({t}) END"),
        "n_cjk": f"CAST({cjk} AS DOUBLE)",
        "distinct_word_ratio": per_word(
            f"CAST(size(array_distinct(transform({words}, w -> lower(w)))) AS DOUBLE) / {n}",
            empty="1.0D"),
    }


def words_col(text: Column | str) -> Column:
    """``words_sql`` as a Column."""
    return F.expr(words_sql(arg(text)))


def heuristic_columns(text: Column | str,
                      words: Column | str | None = None) -> dict[str, Column]:
    """All heuristic signals for one text column (``heuristic_sql``).

    Pass ``words`` as a materialized column reference when computing many
    signals over the same text (the pipeline does): a bare attribute is
    "cheap" to Catalyst, so CollapseProject dedups it, whereas an inline
    ``words_sql`` subtree is re-evaluated per referencing signal."""
    t = arg(text)
    w = arg(words) if words is not None else words_sql(t)
    return {k: F.expr(v) for k, v in heuristic_sql(t, w).items()}
