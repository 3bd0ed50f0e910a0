"""Weighted quality score + keep/drop decision.

Re-implements the reference's scoring contract deterministically:
  * score normalization (clamp to [0,10]) — ``src/processor.py:302-311``
  * weighted total ``Σ(score_i·w_i)/Σw_i`` rounded to 2dp —
    ``src/processor.py:200-221`` with weights 0.2/0.3/0.2/0.15/0.15 from
    ``config/quality_metrics.yaml``
  * keep/drop filter ``score >= min_score AND category ∈ allowed`` —
    ``filter_results`` ``src/processor.py:423-435``

All of it is written once as Spark SQL text over column names
(``*_sql``) — whole-stage codegen, no UDF; the Column functions wrap the
same text in ``F.expr``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.sqltext import arg, dbl, lit


@dataclass(frozen=True)
class QualityConfig:
    """Frozen scoring parameters. Changing any value re-freezes goldens."""

    # Dimension weights — mirror config/quality_metrics.yaml:5,15,24,33,42.
    w_lang: float = 0.20      # reference: context_awareness-class weight
    w_fluency: float = 0.30   # reference: correctness (highest weight)
    w_clarity: float = 0.20   # reference: clarity
    w_clean: float = 0.15     # reference: engagement
    w_structure: float = 0.15  # reference: reasoning_depth

    min_score: float = 6.0          # keep threshold (reference min_score)
    allowed_langs: tuple[str, ...] = ()  # empty = all
    # DataCategory allowlist (reference src/processor.py:432 filters on
    # `item.category in categories`); empty = all 8 labels pass.
    allowed_categories: tuple[str, ...] = ()
    require_lang_match: bool = True  # pred_lang must equal declared lang

    # Token-cost accounting (reference TokenInfo src/data_types.py:6-12,
    # pricing defaults config/default_config.yaml openai.pricing).
    price_in_per_million: float = 1.0
    price_out_per_million: float = 2.0
    currency: str = "CNY"

    # Hard C4/Gopher bounds.
    min_chars: float = 50.0
    max_chars: float = 1_000_000.0
    min_words: float = 25.0      # Gopher: 50-100k words; relaxed for short synth docs
    min_cjk_chars: float = 30.0  # zh analogue of min_words
    max_dup_line_frac: float = 0.30
    max_symbol_ratio: float = 0.10
    min_distinct_ratio: float = 0.20  # keyword stuffing: few distinct tokens
    min_mean_word_len: float = 1.5
    max_mean_word_len: float = 14.0

    # Perplexity → score calibration. With per_lang_ppl=True (default),
    # every language the LID can emit uses its frozen held-out calibration
    # (functions/perplexity.py PPL_CALIBRATION — the CCNet per-language-
    # cutoff pattern) EXCEPT 'und', which uses these cfg values; None
    # (default) resolves to the frozen pooled-'und' calibration, so setting
    # a float here genuinely retunes the unknown-language ramp. With
    # per_lang_ppl=False the resolved values apply flat to ALL languages.
    ppl_good: float | None = None  # ppl at/below this scores 10; None = frozen 'und' calib
    ppl_bad: float | None = None   # ppl at/above this scores 0;  None = frozen 'und' calib
    per_lang_ppl: bool = True  # False = flat resolved calibration for all langs

    def resolved_ppl_levels(self) -> tuple[float, float]:
        """(ppl_good, ppl_bad) with None resolved to the frozen pooled
        'und' calibration — the values actually used for unknown-language
        docs (and for every language when ``per_lang_ppl=False``)."""
        from ..functions.perplexity import PPL_CALIBRATION

        und_g, und_b = PPL_CALIBRATION["und"]
        return (
            float(self.ppl_good) if self.ppl_good is not None else float(und_g),
            float(self.ppl_bad) if self.ppl_bad is not None else float(und_b),
        )


# Scripts with no whitespace segmentation: word-based signals (counts,
# mean word length, stopword ratio, alpha ratio) are meaningless — these
# languages take the char-based branches everywhere below.
UNSEGMENTED = ("zh", "ja")


def _clip01(e: str) -> str:
    return f"least(greatest({e}, 0.0D), 1.0D)"


def _isin(e: str, values: tuple[str, ...]) -> str:
    return f"{e} IN ({', '.join(lit(v) for v in values)})"


def dimension_sql(h: dict[str, str], pred_lang: str, lang_score: str, ppl: str,
                  declared_lang: str | None, cfg: QualityConfig) -> dict[str, str]:
    """The five [0,10] quality dimensions from raw signals, as SQL text
    over the heuristic columns ``h`` (``heuristic_sql`` keys) and the
    language/perplexity columns."""
    lang_agree = (
        f"CASE WHEN {pred_lang} = {declared_lang} THEN 1.0D ELSE 0.2D END"
        if declared_lang is not None and cfg.require_lang_match
        else "1.0D"
    )
    d_lang = f"10.0D * {_clip01(f'{lang_score} * 2.0D')} * {lang_agree}"

    # log-linear ppl ramp: ppl_good→10, ppl_bad→0, with PER-LANGUAGE
    # good/bad levels (every language incl. zh has its own frozen
    # char-ngram model + held-out calibration — CCNet's one-LM-per-language
    # shape). 'und' is deliberately EXCLUDED from the per-language CASE so
    # the resolved cfg values (default: the frozen pooled-'und'
    # calibration; user-set floats override) genuinely are the
    # unknown-language fallback.
    res_good, res_bad = cfg.resolved_ppl_levels()
    good, bad = dbl(res_good), dbl(res_bad)
    if cfg.per_lang_ppl:
        from ..functions.perplexity import PPL_CALIBRATION

        per_lang = [(lang, g, b) for lang, (g, b) in PPL_CALIBRATION.items() if lang != "und"]
        good = ("CASE " + " ".join(f"WHEN {pred_lang} = {lit(lang)} THEN {dbl(g)}"
                                   for lang, g, _ in per_lang) + f" ELSE {good} END")
        bad = ("CASE " + " ".join(f"WHEN {pred_lang} = {lit(lang)} THEN {dbl(b)}"
                                  for lang, _, b in per_lang) + f" ELSE {bad} END")
    d_fluency = "10.0D * " + _clip01(
        f"1.0D - log2(greatest({ppl}, 1.0D) / {good}) / log2({bad} / {good})")

    # Unsegmented scripts take the CJK-ratio clarity branch and skip the
    # word-shape gates (whitespace tokenization is meaningless for them);
    # heuristics.CJK_CLASS covers han + kana, so the same signals serve
    # zh AND ja. ko/ru/ar are space-segmented: they ride the word paths,
    # with their stopwords in heuristics.STOPWORDS.
    unseg = _isin(pred_lang, UNSEGMENTED)
    d_clarity = (f"CASE WHEN {unseg} THEN 10.0D * {_clip01(h['cjk_ratio'] + ' / 0.5D')}"
                 f" ELSE 10.0D * {_clip01(h['stopword_ratio'] + ' / 0.25D')} END")
    alpha = f"CASE WHEN {unseg} THEN 1.0D ELSE {h['alpha_ratio']} / 0.8D END"
    d_clean = (f"5.0D * {_clip01('1.0D - ' + h['symbol_ratio'] + ' / 0.1D')}"
               f" + 5.0D * {_clip01(alpha)}")

    nc, mwl = h["n_chars"], h["mean_word_len"]
    len_ok = f"{nc} >= {dbl(cfg.min_chars)} AND {nc} <= {dbl(cfg.max_chars)}"
    mwl_ok = (f"CASE WHEN {unseg} THEN true ELSE {mwl} >= {dbl(cfg.min_mean_word_len)}"
              f" AND {mwl} <= {dbl(cfg.max_mean_word_len)} END")
    d_structure = (
        f"10.0D * {_clip01('1.0D - ' + h['dup_line_frac'] + ' / ' + dbl(cfg.max_dup_line_frac))}"
        f" * {_clip01(h['distinct_word_ratio'] + ' / 0.25D')}"
        f" * CASE WHEN {len_ok} THEN 1.0D ELSE 0.0D END"
        f" * CASE WHEN ({mwl_ok}) THEN 1.0D ELSE 0.3D END"
    )
    return {
        "d_lang": d_lang,
        "d_fluency": d_fluency,
        "d_clarity": d_clarity,
        "d_clean": d_clean,
        "d_structure": d_structure,
    }


def normalize_score_sql(e: str) -> str:
    """Reference ``_normalize_scores`` src/processor.py:302-311: clamp >10
    down to 10, leave low values untouched."""
    return f"least({e}, 10.0D)"


def weighted_score_sql(dims: dict[str, str], cfg: QualityConfig) -> str:
    """Σ(d_i·w_i)/Σw_i rounded to 2dp (reference src/processor.py:200-221)."""
    pairs = [
        (dims["d_lang"], cfg.w_lang),
        (dims["d_fluency"], cfg.w_fluency),
        (dims["d_clarity"], cfg.w_clarity),
        (dims["d_clean"], cfg.w_clean),
        (dims["d_structure"], cfg.w_structure),
    ]
    total_w = sum(w for _, w in pairs)
    s = " + ".join(f"{normalize_score_sql(d)} * {dbl(w)}" for d, w in pairs)
    return f"round(({s}) / {dbl(total_w)}, 2)"


# Deterministic ImprovementSuggestion rules (reference src/models.py:165-169
# {aspect, suggestion, priority 1..3}; priorities config/quality_metrics.yaml
# improvement_priority high=1/medium=2/low=3). Each rule fires when its
# signal is below par; priority escalates with severity.
_SUGGESTION_RULES = (
    # (aspect, signal, fire_below, severe_below, suggestion, mild_priority)
    ("length", "n_words", 100.0, 20.0, "expand the document body", 2),
    ("chars", "n_chars", 500.0, 100.0, "add substantive content", 2),
    ("diversity", "distinct_word_ratio", 0.5, 0.2, "reduce repetition", 3),
)


def suggestion_sql(h: dict[str, str]) -> str:
    """array<struct<aspect,suggestion,priority>> of fired improvement rules
    — the deterministic stand-in for the LLM's improvement_suggestions
    (reference src/models.py:165-175)."""
    entries = ", ".join(
        f"CASE WHEN {h[sig]} < {dbl(fire)} THEN struct({lit(aspect)} AS aspect,"
        f" {lit(text)} AS suggestion,"
        f" CASE WHEN {h[sig]} < {dbl(severe)} THEN 1 ELSE {mild} END AS priority)"
        f" ELSE NULL END"
        for aspect, sig, fire, severe, text, mild in _SUGGESTION_RULES
    )
    return f"filter(array({entries}), x -> x IS NOT NULL)"


def keep_sql(score: str, pred_lang: str, h: dict[str, str], declared_lang: str | None,
             cfg: QualityConfig, category: str | None = None) -> str:
    """F1 keep/drop predicate (reference src/processor.py:432) + hard rules."""
    keep = [f"{score} >= {dbl(cfg.min_score)}"]
    if cfg.allowed_langs:
        keep.append(_isin(pred_lang, cfg.allowed_langs))
    if cfg.allowed_categories and category is not None:
        keep.append(_isin(category, cfg.allowed_categories))
    if cfg.require_lang_match and declared_lang is not None:
        keep.append(f"{pred_lang} = {declared_lang}")
    keep += [
        f"{h['n_chars']} >= {dbl(cfg.min_chars)}",
        f"{h['n_chars']} <= {dbl(cfg.max_chars)}",
        # length floor: word count for segmented scripts, CJK chars for
        # the unsegmented ones (n_cjk counts han+kana, so it serves ja)
        f"CASE WHEN {_isin(pred_lang, UNSEGMENTED)} THEN {h['n_cjk']} >= {dbl(cfg.min_cjk_chars)}"
        f" ELSE {h['n_words']} >= {dbl(cfg.min_words)} END",
        f"{h['dup_line_frac']} <= {dbl(cfg.max_dup_line_frac)}",
        f"{h['symbol_ratio']} <= {dbl(cfg.max_symbol_ratio)}",
        f"{h['distinct_word_ratio']} >= {dbl(cfg.min_distinct_ratio)}",
    ]
    return " AND ".join(f"({k})" for k in keep)


def _args(h: dict[str, Column | str]) -> dict[str, str]:
    return {k: arg(v) for k, v in h.items()}


def dimension_columns(h: dict[str, Column | str], pred_lang: Column | str,
                      lang_score: Column | str, ppl: Column | str,
                      declared_lang: Column | str | None,
                      cfg: QualityConfig) -> dict[str, Column]:
    """``dimension_sql`` as Columns."""
    dims = dimension_sql(_args(h), arg(pred_lang), arg(lang_score), arg(ppl),
                         None if declared_lang is None else arg(declared_lang), cfg)
    return {k: F.expr(v) for k, v in dims.items()}


def normalize_score(c: Column | str) -> Column:
    """``normalize_score_sql`` as a Column."""
    return F.expr(normalize_score_sql(arg(c)))


def weighted_score(dims: dict[str, Column | str], cfg: QualityConfig) -> Column:
    """``weighted_score_sql`` as a Column."""
    return F.expr(weighted_score_sql(_args(dims), cfg))


def suggestion_structs(h: dict[str, Column | str]) -> Column:
    """``suggestion_sql`` as a Column."""
    return F.expr(suggestion_sql(_args(h)))


def keep_column(score: Column | str, pred_lang: Column | str, h: dict[str, Column | str],
                declared_lang: Column | str | None, cfg: QualityConfig,
                category: Column | str | None = None) -> Column:
    """``keep_sql`` as a Column."""
    return F.expr(keep_sql(arg(score), arg(pred_lang), _args(h),
                           None if declared_lang is None else arg(declared_lang), cfg,
                           None if category is None else arg(category)))
