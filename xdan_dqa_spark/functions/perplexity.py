"""KenLM-style character-trigram perplexity, numpy-vectorized per Arrow batch.

Deterministic replacement for the reference's LLM "fluency" judgment
(the reasoning_depth/correctness dimensions of ``src/models.py:17-45``).
Frozen add-k-smoothed char-trigram language models in the CCNet/KenLM
tradition (Wenzek et al. 2020): ONE MODEL PER LANGUAGE (en/es/fr/de at
word level, zh at char level) plus a pooled fallback for ``und`` —
documents are scored by the model of their *predicted* language, exactly
the CCNet LID→per-language-LM pipeline shape. Each model carries its own
frozen (ppl_good, ppl_bad) calibration measured on deterministic held-out
text, because raw perplexities are not comparable across languages (a
char-level zh model's in-domain ppl is an order of magnitude above an
en model's — CCNet handles this with per-language percentile cutoffs).

Everything is shrunk to an embedded seed corpus so the sandbox needs no
model download; corpora and calibration are part of the module's frozen
definition (changing them re-freezes goldens).

Execution shape: the whole Arrow batch is scored with numpy only —
texts are concatenated to one uint32 codepoint array, trigram keys are
formed by shifted-polynomial hashing, log-probs come from one
``np.searchsorted`` per (language-present-in-batch) into that language's
frozen sorted key table, and per-document entropies fall out of
``np.add.reduceat``. No per-row Python; per-batch cost is ONE full
lookup pass split across the languages present (masked gathers), not
one pass per language.

The model tables are built once per Python worker at module import
(executors import the shipped package), i.e. broadcast-by-closure.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from ..synth import WORDS, ZH_CHARS
from .ngram_core import (
    MAX_CHARS,
    EncodedBatch,
    bi_keys as _bi_keys,
    encode_batch,
    lookup as _lookup,
    segment_sums,
    tri_keys as _tri_keys,
)

_K = 0.1  # add-k smoothing (shared by all models)
# good:bad ramp width, one shared ratio applied to each language's own
# good level (mirrors QualityConfig.ppl_bad / ppl_good = 256/24).
_BAD_OVER_GOOD = 256.0 / 24.0


def _lang_sentences(lang: str, seed: int, n_sents: int) -> list[str]:
    """Deterministic pseudo-sentences from the embedded per-language
    vocabulary — covers intra-word AND cross-word (boundary) trigrams.
    zh/ja sentences are char-level draws with the 。 terminator (matching
    the synth document generator's shape); ko builds space-separated
    1-4-syllable pseudo-words (Korean is space-segmented but hangul is
    best modeled at char level); ru/ar are word-level like the latin
    four."""
    from .vocab_ext import AR_WORDS, JA_SENTENCES, KO_SENTENCES, RU_WORDS

    rng = np.random.default_rng(seed)
    parts: list[str] = []
    if lang == "zh":
        chars = np.array(ZH_CHARS)
        for _ in range(n_sents):
            n = int(rng.integers(8, 20))
            parts.append("".join(rng.choice(chars, size=n)) + "。")
        return parts
    if lang in ("ja", "ko"):
        # natural-sentence pools (vocab_ext docstring: random-draw corpora
        # kill the fluency signal for char-level models); different seeds
        # select/order differently but share the frozen sentence inventory
        pool = np.array(JA_SENTENCES if lang == "ja" else KO_SENTENCES)
        sep = "" if lang == "ja" else " "
        return [sep.join(rng.choice(pool, size=int(rng.integers(2, 5))))
                for _ in range(n_sents)]
    pool = {"ru": RU_WORDS, "ar": AR_WORDS}.get(lang) or WORDS[lang]
    ws = np.array(pool)
    for _ in range(n_sents):
        rng.shuffle(ws)
        parts.append(" ".join(ws[: rng.integers(8, 30)]).lower() + ". ")
    return parts


def _build_model(corpus: str) -> tuple:
    """Frozen trigram model (tri table, bi-prefix table, defaults)."""
    codes = np.frombuffer(corpus.encode("utf-32-le"), dtype=np.uint32)
    vocab = len(np.unique(codes)) + 1

    tri_u, tri_c = np.unique(_tri_keys(codes), return_counts=True)
    bi_u, bi_c = np.unique(_bi_keys(codes), return_counts=True)
    bi_logc = np.log2(bi_c + _K * vocab)

    # Conditional P(c3 | c1 c2) = (count(tri)+k) / (count(bi_prefix)+k·V).
    # Trigram log-num stored; denominators looked up per prefix at score
    # time so unseen-trigram/seen-prefix and unseen-prefix cases both get
    # proper add-k backoff mass.
    tri_lognum = np.log2(tri_c + _K)
    default_lognum = float(math.log2(_K))
    default_bi_logc = float(math.log2(_K * vocab))
    return (
        tri_u, tri_lognum.astype(np.float64), default_lognum,
        bi_u, bi_logc.astype(np.float64), default_bi_logc,
    )


def _model_ppl(model: tuple, texts: list[str]) -> np.ndarray:
    """Score texts under one model (used for held-out calibration and by
    the batch scorer below via the same lookup arithmetic)."""
    ser = pd.Series(texts).str.lower().str.slice(0, MAX_CHARS)
    enc = encode_batch(ser)
    if enc.tri is None:
        return np.full(enc.n_docs, 1.0)
    tk, tv, td, bk, bv, bd = model
    lp = np.where(enc.spans, 0.0, _lookup(enc.tri, tk, tv, td) - _lookup(enc.bi, bk, bv, bd))
    entropy = -segment_sums(lp, enc) / enc.n_tris
    return np.power(2.0, np.clip(entropy, 0.0, 30.0))


# Non-latin extension beyond the synth five (vocab_ext.py): these get
# their own models/calibration but are EXCLUDED from the pooled 'und'
# fallback corpus — the pooled model is frozen in the round-1/2 goldens,
# and extension-language docs route to their own model anyway (script
# evidence in langid fires before any latin model can claim them).
EXT_LANGS = ("ja", "ko", "ru", "ar")


def _build_all() -> tuple[dict[str, tuple], dict[str, tuple[float, float]]]:
    """All per-language models + the pooled 'und' fallback, each with its
    frozen held-out calibration (ppl_good = mean held-out in-domain ppl,
    ppl_bad = ppl_good × the shared ramp ratio)."""
    models: dict[str, tuple] = {}
    calib: dict[str, tuple[float, float]] = {}
    pooled_parts: list[str] = []
    for lang in (*WORDS.keys(), "zh", *EXT_LANGS):
        train = _lang_sentences(lang, seed=7, n_sents=200)
        if lang not in EXT_LANGS:
            pooled_parts.extend(train)
        models[lang] = _build_model(" ".join(train))
        held_out = _lang_sentences(lang, seed=1007, n_sents=40)
        good = round(float(np.mean(_model_ppl(models[lang], held_out))), 3)
        calib[lang] = (good, round(good * _BAD_OVER_GOOD, 3))
    models["und"] = _build_model(" ".join(pooled_parts))
    good = round(float(np.mean(
        _model_ppl(models["und"], _lang_sentences("en", seed=1007, n_sents=40))
    )), 3)
    calib["und"] = (good, round(good * _BAD_OVER_GOOD, 3))
    return models, calib


_MODELS, PPL_CALIBRATION = _build_all()

# Back-compat single-model view (the pooled fallback).
_POOLED = _MODELS["und"]


def _doc_of_tri(enc: EncodedBatch) -> np.ndarray:
    """Owning doc index per trigram position. Doc i's codes occupy a
    contiguous segment of lens[i] (+2 NUL separators except after the
    last doc); a trigram belongs to the doc its FIRST codepoint is in —
    boundary trigrams are span-masked to zero downstream either way."""
    per_doc = enc.lens + 2
    doc_of_code = np.repeat(np.arange(enc.n_docs), per_doc)[: len(enc.codes)]
    return doc_of_code[: len(enc.tri)]


def ppl_encoded_by_lang(enc: EncodedBatch, langs: np.ndarray) -> pd.Series:
    """Per-doc perplexity, each doc scored by its predicted language's
    model (unknown/und → pooled). One masked lookup pass per language
    PRESENT in the batch — total lookup work stays one full pass."""
    if enc.tri is None:
        # Degenerate batch: every doc is < 3 chars → worst ppl, the SAME
        # value those docs get inside a mixed batch (an earlier fill of
        # 0.0/1.0 here made a doc's ppl depend on its batch composition —
        # a batch-invariance violation).
        return pd.Series(np.full(enc.n_docs, 1e6), index=enc.index)

    langs = np.asarray(langs, dtype=object)
    doc_of = _doc_of_tri(enc)
    lp = np.zeros(len(enc.tri))
    for lang in pd.unique(langs):
        model = _MODELS.get(lang, _POOLED)
        tmask = (langs == lang)[doc_of]
        tk, tv, td, bk, bv, bd = model
        lp[tmask] = (
            _lookup(enc.tri[tmask], tk, tv, td)
            - _lookup(enc.bi[tmask], bk, bv, bd)
        )
    lp = np.where(enc.spans, 0.0, lp)
    entropy = -segment_sums(lp, enc) / enc.n_tris
    ppl = np.power(2.0, np.clip(entropy, 0.0, 30.0))
    ppl = np.where(enc.lens < 3, 1e6, ppl)  # degenerate docs → worst ppl
    return pd.Series(ppl, index=enc.index)


def ppl_encoded(enc: EncodedBatch) -> pd.Series:
    """Pooled-model perplexity for one encoded batch (language-agnostic
    path, kept for single-signal operators and back-compat)."""
    if enc.tri is None:  # all docs < 3 chars — same 1e6 as in mixed batches
        return pd.Series(np.full(enc.n_docs, 1e6), index=enc.index)
    tk, tv, td, bk, bv, bd = _POOLED
    lognum = _lookup(enc.tri, tk, tv, td)
    logden = _lookup(enc.bi, bk, bv, bd)
    # Zero out trigrams that span the NUL separators between docs.
    lp = np.where(enc.spans, 0.0, lognum - logden)
    sums = segment_sums(lp, enc)
    entropy = -sums / enc.n_tris
    ppl = np.power(2.0, np.clip(entropy, 0.0, 30.0))
    ppl = np.where(enc.lens < 3, 1e6, ppl)
    return pd.Series(ppl, index=enc.index)


def ppl_batch(s: pd.Series) -> pd.Series:
    """Pooled-model perplexity for a batch of texts, numpy end-to-end."""
    txt = s.fillna("").str.lower().str.slice(0, MAX_CHARS)
    return ppl_encoded(encode_batch(txt))


def ppl_batch_by_lang(s: pd.Series, langs: pd.Series) -> pd.Series:
    """Per-language-model perplexity for a batch of (text, pred_lang)."""
    txt = s.fillna("").str.lower().str.slice(0, MAX_CHARS)
    return ppl_encoded_by_lang(encode_batch(txt), langs.fillna("und").to_numpy())
