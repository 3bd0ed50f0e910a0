"""fastText-style language identification as a vectorized pandas UDF.

Deterministic replacement for the reference's LLM category label
(``src/processor.py:179``, ``config/category.yaml``). The classifier is
the same signal family fastText uses — character n-gram evidence scored
by a tiny frozen linear model — implemented as add-k-smoothed per-language
char-trigram models over an embedded seed corpus (no model download in
the sandbox; weights are part of this module's frozen definition).

Scoring is numpy end-to-end and shares the batch encoding with the
perplexity model (``functions/ngram_core.py``): trigram keys are hashed
once, then each language costs one ``searchsorted`` + two ``reduceat``.
This replaced an earlier pandas ``.str.count`` marker-regex scorer that
spent ~160 µs/doc in Python regex scans (now ~45 µs/doc).

The model table is built once per Python worker at module import
(executors import the shipped package), i.e. broadcast-by-closure.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..synth import WORDS
from .ngram_core import MAX_CHARS, EncodedBatch, encode_batch, lookup, segment_sums, tri_keys

LANGS = ["en", "es", "fr", "de", "zh", "ja", "ko", "ru", "ar"]  # fixed order
_LATIN = ["en", "es", "fr", "de"]
_K = 0.1          # add-k smoothing
_V = 65536.0      # nominal trigram vocabulary for smoothing mass
_CJK_FRAC_MIN = 0.2     # script-evidence threshold (zh/ko/ru/ar decisions)
_KANA_FRAC_MIN = 0.05   # any real kana presence ⇒ Japanese, not Chinese


def _lang_corpus(lang: str) -> str:
    """Frozen per-language seed corpus (deterministic, embedded)."""
    rng = np.random.default_rng(13)  # same seed per lang: disjoint vocab
    ws = np.array(WORDS[lang])
    parts: list[str] = []
    for _ in range(300):
        rng.shuffle(ws)
        parts.append(" ".join(ws[: rng.integers(8, 30)]).lower() + ". ")
    return " ".join(parts)


def _build_models() -> dict[str, tuple[np.ndarray, np.ndarray, float]]:
    models = {}
    for lang in _LATIN:
        codes = np.frombuffer(_lang_corpus(lang).encode("utf-32-le"), dtype=np.uint32)
        tri_u, tri_c = np.unique(tri_keys(codes), return_counts=True)
        total = float(tri_c.sum())
        logp = np.log2((tri_c + _K) / (total + _K * _V)).astype(np.float64)
        default = float(math.log2(_K / (total + _K * _V)))
        models[lang] = (tri_u, logp, default)
    return models


_MODELS = _build_models()


def _script_fracs(enc: EncodedBatch) -> dict[str, np.ndarray]:
    """Per-doc fraction of codepoints in each non-latin script — the
    signal a char-n-gram classifier effectively learns for
    single-language (or kana-distinguished) scripts, at O(1)/char.
    One boolean mask + one segment-sum per script over the shared
    codepoint array."""
    c = enc.codes
    denom = np.maximum(enc.lens, 1)
    masks = {
        "kana": ((c >= 0x3040) & (c <= 0x30FF)),
        "han": ((c >= 0x4E00) & (c <= 0x9FFF)),
        "hangul": ((c >= 0xAC00) & (c <= 0xD7A3)) | ((c >= 0x1100) & (c <= 0x11FF)),
        "cyr": ((c >= 0x0400) & (c <= 0x04FF)),
        "arab": ((c >= 0x0600) & (c <= 0x06FF)) | ((c >= 0x0750) & (c <= 0x077F)),
    }
    return {k: enc.code_segment_sums(m.astype(np.float64)) / denom
            for k, m in masks.items()}


def score_encoded(enc: EncodedBatch) -> pd.DataFrame:
    """Language + confidence for one encoded batch."""
    n = enc.n_docs
    if enc.tri is None:  # degenerate batch: all docs < 3 chars
        return pd.DataFrame(
            {"lang": ["und"] * n, "lang_score": np.zeros(n)}, index=enc.index
        )

    means = np.empty((len(_LATIN), n))
    known_frac = np.empty((len(_LATIN), n))
    for i, lang in enumerate(_LATIN):
        keys, vals, default = _MODELS[lang]
        lp = lookup(enc.tri, keys, vals, default)
        known = (lp != default) & ~enc.spans
        lp = np.where(enc.spans, 0.0, lp)
        means[i] = segment_sums(lp, enc) / enc.n_tris
        known_frac[i] = segment_sums(known.astype(np.float64), enc) / enc.n_tris

    best = np.argmax(means, axis=0)
    cols = np.arange(n)
    # Confidence: posterior mass of the best language under the per-trigram
    # mean log-probs (a length-normalized naive-Bayes posterior).
    w = np.exp2(means - means[best, cols])
    conf = 1.0 / np.sum(w, axis=0)

    # No-signal rule: if the winning model recognized zero trigrams the doc
    # is noise/digits/unknown-script → 'und' with zero confidence.
    no_signal = (known_frac[best, cols] == 0.0) | (enc.lens < 3)
    langs = np.where(no_signal, "und", np.array(_LATIN, dtype=object)[best])
    conf = np.where(no_signal, 0.0, conf)

    # Script-evidence overrides, priority-ordered so each doc gets exactly
    # one script label. ko first (hangul is unambiguous), then ja (ANY
    # real kana presence distinguishes Japanese from Chinese — Chinese
    # text never uses kana, while Japanese prose can be kanji-heavy),
    # then zh (han+kana mass, the original frozen rule — unchanged for
    # every kana-free/hangul-free doc, so pre-extension goldens hold),
    # then ru/ar by their dedicated script ranges.
    fr = _script_fracs(enc)
    cjk = fr["han"] + fr["kana"]
    ok_len = enc.lens >= 3
    rules = [
        ("ko", (fr["hangul"] >= _CJK_FRAC_MIN), fr["hangul"]),
        # ja needs BOTH substantial CJK mass and real kana: kana alone
        # would hand an English page sprinkled with a few Japanese terms
        # to ja; CJK mass alone is Chinese
        ("ja", (cjk >= _CJK_FRAC_MIN) & (fr["kana"] >= _KANA_FRAC_MIN), cjk),
        ("zh", (cjk >= _CJK_FRAC_MIN), cjk),
        ("ru", (fr["cyr"] >= _CJK_FRAC_MIN), fr["cyr"]),
        ("ar", (fr["arab"] >= _CJK_FRAC_MIN), fr["arab"]),
    ]
    claimed = np.zeros(n, dtype=bool)
    for lang, cond, strength in rules:
        fire = cond & ok_len & ~claimed
        langs = np.where(fire, lang, langs)
        conf = np.where(fire, np.clip(2.0 * strength, 0.0, 1.0), conf)
        claimed |= fire
    return pd.DataFrame(
        {"lang": langs.astype(str), "lang_score": conf.astype(float)}, index=enc.index
    )


def _score_batch(s: pd.Series) -> pd.DataFrame:
    txt = s.fillna("").str.lower().str.slice(0, MAX_CHARS)
    return score_encoded(encode_batch(txt))


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("lang", T.StringType()),
            T.StructField("lang_score", T.DoubleType()),
        ]
    )
)
def langid_udf(text: pd.Series) -> pd.DataFrame:
    return _score_batch(text)


def predict_lang_pandas(texts: pd.Series) -> pd.DataFrame:
    """Driver-side oracle for tests — same code path as the UDF."""
    return _score_batch(texts)
