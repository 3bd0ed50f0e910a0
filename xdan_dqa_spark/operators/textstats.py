"""Text-analysis operators over generic document tables.

Everything is a pure Column expression (JVM, codegen) so the same
definitions serve both the engine and the DuckDB oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import WS_CHARS, WS_PLUS

# A BPE-ish token pattern: words, numbers, or single punctuation marks —
# the standard cheap proxy for subword token counts.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9" + WS_CHARS + "]"


def whitespace_token_count(text_col: str) -> F.Column:
    return F.size(
        F.filter(F.split(F.col(text_col), WS_PLUS), lambda w: F.length(w) > 0)
    ).cast("long")


def bpe_ish_token_count(text_col: str) -> F.Column:
    return F.regexp_count(F.col(text_col), F.lit(TOKEN_PATTERN)).cast("long")


def quality_score_expr(text_col: str) -> F.Column:
    """Cheap [0,1] quality score from length/punctuation/stopword ratios
    (the heuristic analogue of the reference's weighted LLM score)."""
    from ..functions.heuristics import heuristic_columns

    h = heuristic_columns(F.col(text_col))
    length_part = F.least(h["n_words"] / F.lit(100.0), F.lit(1.0))
    stop_part = F.least(h["stopword_ratio"] / F.lit(0.25), F.lit(1.0))
    clean_part = F.greatest(F.lit(1.0) - h["symbol_ratio"] / F.lit(0.1), F.lit(0.0))
    return F.round(
        F.lit(0.4) * stop_part + F.lit(0.3) * length_part + F.lit(0.3) * clean_part, 4
    )


def doc_fingerprint(text_col: str) -> F.Column:
    """Stable content fingerprint: md5 of whitespace-normalized lowercase
    text (identical in any engine with md5 — oracle-friendly)."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), WS_PLUS, " ")))
    return F.md5(norm)


def langid_heuristic_expr(text_col: str) -> F.Column:
    """Column-expression language ID (literal marker counting — the
    oracle-parity variant of the pandas-UDF scorer; literal `replace`
    counting behaves identically in every engine)."""
    t = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))

    def count_of(marker: str) -> F.Column:
        # occurrences via length delta — engine-portable, no regex
        return (
            F.length(t) - F.length(F.replace(t, F.lit(f" {marker} "), F.lit("")))
        ) / F.lit(len(marker) + 2)

    en = count_of("the") + count_of("and") + count_of("is") + count_of("that") + count_of("of")
    es = count_of("el") + count_of("que") + count_of("los") + count_of("una") + count_of("por")
    fr = count_of("le") + count_of("les") + count_of("dans") + count_of("est") + count_of("je")
    de = count_of("der") + count_of("und") + count_of("das") + count_of("nicht") + count_of("mit")
    return (
        F.when((en >= es) & (en >= fr) & (en >= de) & (en > 0), F.lit("en"))
        .when((es >= fr) & (es >= de) & (es > 0), F.lit("es"))
        .when((fr >= de) & (fr > 0), F.lit("fr"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per doc: token counts, quality score, fingerprint, langid."""
    return df.withColumns(
        {
            "n_ws_tokens": whitespace_token_count(text_col),
            "n_bpe_tokens": bpe_ish_token_count(text_col),
            "quality": quality_score_expr(text_col),
            "fingerprint": doc_fingerprint(text_col),
            "lang_pred": langid_heuristic_expr(text_col),
        }
    )


def top_terms(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Corpus top-k terms by frequency (vocabulary heavy hitters — the
    sanity report a web-corpus curation run prints before training).

    Shape at scale: explode → hash aggregate (map-side partial combine on
    the term key, ONE shuffle of partial counts, not of tokens) →
    ``orderBy().limit(k)`` which Spark compiles to TakeOrderedAndProject
    (per-partition top-k heaps, no global sort). The tie at rank k is
    broken by term ASC so the selected SET is deterministic in any
    engine/partitioning (the driver's value-hash compare is
    order-insensitive but set-sensitive).
    """
    words = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), WS_PLUS),
        lambda w: w != F.lit(""),
    )
    return (
        df.select(F.explode(words).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(k)
    )


def token_count_quantiles(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    ps: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """EXACT per-group quantiles of whitespace token counts, computed
    over a value-compressed histogram instead of Spark's
    ``percentile(...)`` aggregate.

    Why not the built-in exact ``percentile``: it buffers EVERY value of
    the group in executor memory (an OpenHashMap of raw values) — at
    10^12 documents that is the aggregation-state OOM, which is why only
    ``approx_percentile`` is normally usable at scale. But token counts
    are small integers with tiny cardinality (≤ max doc length ≪ rows),
    so the distribution compresses losslessly: groupBy (lang, n_tokens)
    → count is a map-side-combined aggregate whose result is a few
    thousand rows per language no matter how many documents fed it.
    Type-7 linear interpolation (h = p·(total−1); v_lo + frac·(v_hi −
    v_lo) — the same definition as Spark ``percentile`` and DuckDB
    ``quantile_cont``) is then a window cum-sum + one conditional
    aggregate over the histogram. Exact answer, bounded state, two small
    shuffles.
    """
    n_tok = F.size(
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), WS_PLUS),
            lambda w: w != F.lit(""),
        )
    ).cast("long")
    gv = df.select(F.col(group_col).alias("g"), n_tok.alias("v"))
    out = exact_quantiles_histogram(gv, ps)
    return out.select(F.col("g").alias(group_col),
                      *[c for c in out.columns if c != "g"])


def exact_quantiles_histogram(gv: DataFrame,
                              ps: tuple[float, ...]) -> DataFrame:
    """EXACT type-7 quantiles per group over a (g, v) DataFrame via the
    value-compressed histogram (see token_count_quantiles' rationale:
    bounded aggregation state where built-in ``percentile`` buffers every
    value). Returns one row per g with ``p{int(p*100)}`` columns."""
    hist = gv.groupBy("g", "v").agg(F.count("*").alias("c"))
    w_ord = Window.partitionBy("g").orderBy("v")
    w_all = Window.partitionBy("g")
    hist = (
        hist.withColumn("cum", F.sum("c").over(w_ord))
        .withColumn("total", F.sum("c").over(w_all))
        .withColumn("cum_prev", F.col("cum") - F.col("c"))
    )
    aggs, finals = [], [F.col("g")]
    for p in ps:
        tag = str(int(round(p * 100)))
        h = F.lit(float(p)) * (F.col("total") - F.lit(1)).cast("double")
        j = F.floor(h).cast("long")
        frac = h - j.cast("double")
        in_row = lambda idx: (F.col("cum_prev") <= idx) & (idx < F.col("cum"))  # noqa: E731
        aggs += [
            F.max(frac).alias(f"_f{tag}"),  # constant within the group
            F.max(F.when(in_row(j), F.col("v"))).alias(f"_lo{tag}"),
            F.max(F.when(in_row(j + 1), F.col("v"))).alias(f"_hi{tag}"),
        ]
        lo = F.col(f"_lo{tag}").cast("double")
        hi = F.coalesce(F.col(f"_hi{tag}"), F.col(f"_lo{tag}")).cast("double")
        finals.append(
            F.round(lo + F.col(f"_f{tag}") * (hi - lo), 6).alias(f"p{tag}")
        )
    return hist.groupBy("g").agg(*aggs).select(*finals)


def median_abs_deviation(df: DataFrame, value_col: str = "n_chars",
                         by: str = "lang") -> DataFrame:
    """Per-group median and MAD (median absolute deviation) — the robust
    center/spread pair for skew-heavy web-doc length distributions where
    mean/stddev are dominated by the tail.

    Two exact-histogram quantile passes (bounded state each; see
    exact_quantiles_histogram): p50 of the value, then p50 of
    |value − median| with the per-group median attached via a broadcast
    of the ≤#groups median table — the fact table is scanned twice but
    never buffered per group. Deviations are exact halves at worst
    (type-7 median of integers), so the second histogram's keys stay a
    small exact-double set.
    """
    gv = df.select(F.col(by).alias("g"), F.col(value_col).cast("double").alias("v"))
    med = exact_quantiles_histogram(gv, (0.5,)).select(
        "g", F.col("p50").alias("_med")
    )
    dev = (
        gv.join(F.broadcast(med), "g")
        .select("g", F.abs(F.col("v") - F.col("_med")).alias("v"))
    )
    mad = exact_quantiles_histogram(dev, (0.5,)).select(
        "g", F.col("p50").alias("_mad")
    )
    return med.join(mad, "g").select(
        F.col("g").alias(by),
        F.col("_med").alias("median_val"),
        F.col("_mad").alias("mad_val"),
    )


def shingle_prevalence(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Per-document boilerplate signal: the fraction of a doc's distinct
    word n-gram shingles that also occur in at least one OTHER document
    (the inter-document repetition ratio behind Gopher-style boilerplate
    filtering — navigation chrome, cookie banners, templated footers
    score high; original prose scores low).

    Spark shape (two shuffles, both bounded): distinct shingles per doc
    (map-side array_distinct — no shuffle), explode to (doc, key), then
    ONE window count over the shingle key gives "how many docs contain
    this shingle" without the groupBy+join-back round trip a naive plan
    would pay, then ONE hash aggregate back to the doc grain. Shingles
    travel as 60-bit md5-derived longs (same fixed 8-byte key discipline
    as the Jaccard verify, operators/dedup.py) — the shuffle ships longs,
    never shingle strings. Per-doc output stays linear in corpus size;
    per-shingle state is a single running count (no buffered lists).

    Reference scope: the reference scores documents in isolation
    (src/processor.py); corpus-level repetition is part of this repo's
    beyond-reference LLM-pipeline surface.
    """
    from pyspark.sql import Window

    from .dedup import shingle_keys

    sh = df.select(F.col(id_col), F.explode(shingle_keys(text_col, n)).alias("_k"))
    # rows are distinct per (doc, key), so count-over-key = #docs containing
    n_docs = F.count("*").over(Window.partitionBy("_k"))
    per_doc = (
        sh.withColumn("_docs", n_docs)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("_docs") > 1).cast("long")).alias("n_shared"),
        )
    )
    return per_doc.select(
        id_col,
        "n_shingles",
        "n_shared",
        (F.col("n_shared").cast("double") / F.col("n_shingles").cast("double"))
        .alias("shared_frac"),
    )


def _words(text_col: str) -> F.Column:
    """Whitespace tokens (shared explicit-class split discipline)."""
    return F.filter(F.split(F.col(text_col), WS_PLUS), lambda w: F.length(w) > 0)


def lexical_diversity(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Per-document lexical-diversity signals: type-token ratio and
    hapax-legomena ratio (fraction of distinct terms occurring exactly
    once). Gopher-style repetition filters use exactly these — spam and
    keyword-stuffed pages have low TTR; boilerplate has few hapaxes.

    Spark shape: explode → ONE combinable hash aggregate to the
    (doc, term) grain (the combiner runs map-side because doc_id is in
    the key — a partition holding one doc's rows pre-folds them), then a
    second agg back to the doc grain. Per-group state is three counters;
    nothing buffers term lists. Docs with zero tokens drop (explode),
    matching the oracle's unnest semantics.
    """
    ex = df.select(F.col(id_col), F.explode(_words(text_col)).alias("_w"))
    tc = ex.groupBy(id_col, "_w").agg(F.count("*").alias("_c"))
    return (
        tc.groupBy(id_col)
        .agg(
            F.sum("_c").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum((F.col("_c") == 1).cast("long")).alias("n_hapax"),
        )
        .select(
            id_col, "n_tokens", "n_types", "n_hapax",
            F.round(F.col("n_types").cast("double")
                    / F.col("n_tokens").cast("double"), 9).alias("ttr"),
            F.round(F.col("n_hapax").cast("double")
                    / F.col("n_types").cast("double"), 9).alias("hapax_ratio"),
        )
    )


def tfidf_top_terms(df: DataFrame, k: int = 3, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Top-k characteristic terms per document with their tf-idf weight
    (keyword extraction for corpus triage / topic mix reports).

    Ranking is INTEGRAL — (tf DESC, df ASC, term ASC) — so the selected
    set never depends on a cross-engine floating-point ULP; the tf-idf
    value itself (tf·ln(N/df), one ln at the end) is a reported, rounded
    column. Spark shape: one (doc, term) hash aggregate, document
    frequency as a count-over-term window on that SAME table (no
    join-back), the corpus doc count as a 1-row broadcast cross join,
    then a per-doc row_number window. df state is one counter per term;
    the top-k window sorts within docs only, never globally.
    """
    tf = (
        df.select(F.col(id_col), F.explode(_words(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = F.count("*").over(Window.partitionBy("term"))
    n_row = tf.agg(F.countDistinct(id_col).alias("_N"))
    ranked = (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(n_row))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(id_col)
                .orderBy(F.col("tf").desc(), F.col("df").asc(), F.col("term").asc())
            ),
        )
        .filter(F.col("_rn") <= k)
    )
    return ranked.select(
        id_col, "term", "tf", "df",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.col("_N").cast("double") / F.col("df").cast("double")),
            6,
        ).alias("tfidf"),
    )


def pmi_bigrams(df: DataFrame, min_count: int = 5, k: int = 20,
                text_col: str = "text") -> DataFrame:
    """Top-k bigram collocations by frequency with pointwise mutual
    information — the classic multi-word-expression detector ("new york",
    "machine learning") used to spot templated word salads (high-count,
    near-zero PMI) vs genuine collocations.

    Ranking is integral (c_xy DESC, x, y); PMI = ln((c_xy/T_bi) /
    ((c_x/T_uni)·(c_y/T_uni))) is a reported rounded column with a fixed
    IEEE op sequence. Spark shape: unigram and bigram count tables (both
    map-side combinable), two shuffle joins keyed on the word to attach
    c_x/c_y (vocab-sized build sides — never broadcast blindly at web
    scale), totals ride 1-row broadcast cross joins. The bigram array is
    built with arrays_zip over two shifted slices — O(1) per element, no
    per-element re-tokenization.
    """
    words = _words(text_col)
    cnt = F.greatest(F.size(words) - 1, F.lit(0))
    zipped = F.arrays_zip(F.slice(words, 1, cnt), F.slice(words, 2, cnt))
    bi = (
        df.select(F.explode(zipped).alias("_b"))
        .select(F.col("_b")["0"].alias("x"), F.col("_b")["1"].alias("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("c_xy"))
    )
    uni = (
        df.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c_w"))
    )
    t_uni = uni.agg(F.sum("c_w").cast("double").alias("_tu"))
    t_bi = bi.agg(F.sum("c_xy").cast("double").alias("_tb"))
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # heaps, no single-task global sort — an unpartitioned row_number
    # window here would funnel every surviving bigram through one task).
    # (c_xy DESC, x, y) is a TOTAL order ((x, y) is the group key), so
    # the selected set is deterministic without a tie-break hack.
    top = (
        bi.filter(F.col("c_xy") >= min_count)
        .orderBy(F.col("c_xy").desc(), F.col("x").asc(), F.col("y").asc())
        .limit(k)
    )
    cx = uni.select(F.col("w").alias("x"), F.col("c_w").alias("c_x"))
    cy = uni.select(F.col("w").alias("y"), F.col("c_w").alias("c_y"))
    pmi = F.log(
        (F.col("c_xy").cast("double") / F.col("_tb"))
        / ((F.col("c_x").cast("double") / F.col("_tu"))
           * (F.col("c_y").cast("double") / F.col("_tu")))
    )
    return (
        top.join(cx, "x").join(cy, "y")
        .crossJoin(F.broadcast(t_uni))
        .crossJoin(F.broadcast(t_bi))
        .select("x", "y", "c_xy", "c_x", "c_y", F.round(pmi, 6).alias("pmi"))
    )


def ngram_repetition(df: DataFrame, n: int = 3, text_col: str = "text",
                     by: str = "lang") -> DataFrame:
    """Per-group within-document n-gram repetition: the fraction of a
    document's word n-grams that are repeats of an earlier n-gram in the
    SAME document (Gopher's duplicate-n-gram family — template spam and
    keyword stuffing repeat trigrams; prose almost never does).

    Map-only per document: ``size(shingles) − size(array_distinct(
    shingles))`` needs no explode and no per-term state — the only
    shuffle is the final ≤#groups hash aggregate. The group fraction is
    n-gram-weighted (Σdup/Σtotal, exact integers divided once), never a
    float mean of per-doc ratios.
    """
    from .dedup import shingles

    sh = shingles(text_col, n)
    d = df.select(
        F.col(by),
        F.size(sh).alias("_t"),
        F.size(F.array_distinct(sh)).alias("_d"),
    )
    return (
        d.groupBy(by)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_t").alias("n_ngrams"),
            F.sum(F.col("_t") - F.col("_d")).alias("n_dup_ngrams"),
        )
        .withColumn(
            "dup_frac",
            F.round(
                F.col("n_dup_ngrams").cast("double")
                / F.col("n_ngrams").cast("double"),
                9,
            ),
        )
    )


def zipf_slope(df: DataFrame, text_col: str = "text", by: str = "lang",
               min_count: int = 5, top_v: int = 200) -> DataFrame:
    """Per-group Zipf rank–frequency fit: the least-squares slope of
    ln(freq) against ln(rank) over the ``top_v`` most frequent terms —
    natural language sits near −1 (Zipf's law); template spam and
    keyword stuffing flatten the head (slope → 0), OCR noise and
    mojibake steepen it. A corpus-health scalar per language that
    complements entropy/hapax signals with a DISTRIBUTIONAL shape test.

    Scale shape: term counts are one map-side-combined hash aggregate
    (shuffle rows = vocabulary, not tokens). The rank window sorts only
    the ``cnt ≥ min_count`` survivors per group — by Zipf itself the
    frequent-term head is a vanishing fraction of the vocabulary
    (hapaxes are ~half of it), so the per-group window input is bounded
    far below vocab size, and only ``top_v`` rows per group leave it.
    The regression is closed-form from five sufficient statistics
    (n, Σx, Σy, Σxy, Σx²) — one tiny aggregate, no iteration.

    Cross-engine float discipline (see token_entropy): each term's
    ln(rank)/ln(cnt) and their products are rounded to 9 dp and summed
    as DECIMAL (order-free, map-side combinable); the final slope is
    one fixed IEEE op sequence over the five identical sums, rounded.
    Groups with < 2 ranked terms (degenerate fit) report NULL."""
    ex = df.select(F.col(by), F.explode(_words(text_col)).alias("term"))
    tc = ex.groupBy(by, "term").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy(by).orderBy(F.col("cnt").desc(), F.col("term").asc())
    ranked = (
        tc.filter(F.col("cnt") >= min_count)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_v)
    )
    x = F.round(F.log(F.col("rank").cast("double")), 9)
    y = F.round(F.log(F.col("cnt").cast("double")), 9)
    dec = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    s = ranked.groupBy(by).agg(
        F.count("*").alias("n_terms"),
        F.sum(dec(x)).alias("_sx"),
        F.sum(dec(y)).alias("_sy"),
        F.sum(dec(x * y)).alias("_sxy"),
        F.sum(dec(x * x)).alias("_sxx"),
    )
    nd = F.col("n_terms").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    den = nd * sxx - sx * sx
    slope = F.when(
        (F.col("n_terms") >= 2) & (den != F.lit(0.0)),
        F.round((nd * sxy - sx * sy) / den, 6),
    )
    return s.select(F.col(by), F.col("n_terms"), slope.alias("zipf_slope"))


def flesch_reading_ease(df: DataFrame, text_col: str = "text",
                        by: str = "lang") -> DataFrame:
    """Per-group mean Flesch reading-ease score — the classic surface
    readability heuristic (206.835 − 1.015·words/sentences −
    84.6·syllables/word). Quality filters use it as a cheap band test:
    natural prose lands ~30–80; word-salad spam and boilerplate
    navigation score far outside. Syllables are approximated by vowel
    GROUPS (``[aeiouy]+`` runs, the standard regex proxy) and sentences
    by terminal-punctuation runs (``[.!?]+``) — both single
    ``regexp_count`` passes, whole-stage codegen, no UDF, and literally
    identical regexes in Java and RE2 so the oracle twin matches
    bit-for-bit.

    Shape: map-only per doc (three counters + one fixed IEEE float
    expression, rounded), then the bounded per-group decimal mean —
    same discipline as token_entropy. Zero-word docs are excluded from
    the mean (no sentences/words to rate) but still counted in
    ``n_docs_skipped`` so the report can't silently narrow."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_words = F.size(F.filter(F.split(t, WS_PLUS), lambda w: F.length(w) > 0))
    n_sent = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    n_syll = F.greatest(
        F.regexp_count(F.lower(t), F.lit("[aeiouy]+")), F.lit(1)
    )
    score = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double")),
        6,
    )
    d = df.select(
        F.col(by),
        n_words.alias("_w"),
        F.when(n_words > 0, score).alias("_score"),
    )
    return d.groupBy(by).agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("_w") == 0).cast("long")).alias("n_docs_skipped"),
        F.round(
            F.sum(F.col("_score").cast("decimal(20,6)")).cast("double")
            / F.sum((F.col("_w") > 0).cast("long")).cast("double"),
            6,
        ).alias("mean_flesch"),
    )


def token_entropy(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", by: str = "lang") -> DataFrame:
    """Per-group mean unigram Shannon entropy (nats): H = ln(n) −
    Σ c·ln(c) / n over each document's term counts — the
    information-density signal that separates natural prose (high H)
    from repeated-phrase spam (low H), complementing the set-based
    ratios in ``lexical_diversity``.

    Cross-engine float discipline: a raw Σ c·ln(c) float sum is
    accumulation-order-dependent, so each term's c·ln(c) is rounded to
    9 dp and summed as DECIMAL (order-free, map-side combinable); the
    remaining per-doc expression is one fixed IEEE op sequence. Per-doc
    entropies are rounded once and decimal-averaged to the group grain.
    Shape: explode → combinable (doc, term) hash agg → doc-grain agg →
    bounded group agg; per-group state is counters only.
    """
    ex = df.select(F.col(by), F.col(id_col), F.explode(_words(text_col)).alias("term"))
    tc = ex.groupBy(by, id_col, "term").agg(F.count("*").alias("c"))
    per_doc = tc.groupBy(by, id_col).agg(
        F.sum("c").alias("n"),
        F.sum(
            F.round(F.col("c").cast("double") * F.log(F.col("c").cast("double")), 9)
            .cast("decimal(28,9)")
        ).alias("_s"),
    ).withColumn(
        "entropy",
        F.round(
            F.log(F.col("n").cast("double"))
            - F.col("_s").cast("double") / F.col("n").cast("double"),
            6,
        ),
    )
    return per_doc.groupBy(by).agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum(F.col("entropy").cast("decimal(20,6)")).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("mean_entropy"),
    )


# Unicode script ranges for the mixing profile — spelled as literal
# character-class endpoints so the same pattern string is valid in Java
# regex (Spark) and RE2 (DuckDB); each class matches ONE character, so
# regexp_count == character count.
SCRIPT_CLASSES: tuple[tuple[str, str], ...] = (
    ("latin", "[A-Za-z]"),
    ("cjk", "[一-鿿]"),
    ("kana", "[぀-ヿ]"),
    ("hangul", "[가-힯]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("arabic", "[؀-ۿ]"),
)


def script_profile(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document Unicode script census: letter counts per major
    script, the dominant script, and the mixing ratio (fraction of
    letters OUTSIDE the dominant script). The language-ID QA signal —
    a doc labeled 'en' that is 40% CJK is an extraction bug or a
    spam-injection page, and script mixing above a few percent is the
    cheapest mojibake/code-switching alarm there is.

    Map-only: six single-char-class regexp_count passes (each class
    matches one character, so count == chars), whole-stage codegen, no
    explode, no shuffle at all — composes into the flagship's scoring
    stage for free. Dominance ties break by the fixed class priority
    order (Latin first), the same deterministic CASE-chain discipline
    as langid_heuristic_expr, so the label is engine-identical. Docs
    with zero letters in any class report 'none' and ratio 0.0."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = {name: F.regexp_count(t, F.lit(pat)) for name, pat in SCRIPT_CLASSES}
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    names = [n for n, _ in SCRIPT_CLASSES]
    dom = F.lit("none")
    for i in range(len(names) - 1, -1, -1):
        n = names[i]
        cond = counts[n] > 0
        for later in names[i + 1:]:
            cond = cond & (counts[n] >= counts[later])
        for earlier in names[:i]:
            cond = cond & (counts[n] > counts[earlier])
        dom = F.when(cond, F.lit(n)).otherwise(dom)
    dom_cnt = F.greatest(*[counts[n] for n in names])
    ratio = F.when(
        total > 0,
        F.round((total - dom_cnt).cast("double") / total.cast("double"), 9),
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        *[counts[n].cast("long").alias(f"n_{n}") for n in names],
        dom.alias("dominant_script"),
        ratio.alias("script_mix_ratio"),
    )


def hill_tail_index(docs: DataFrame, value_col: str = "n_chars",
                    k: int = 200) -> DataFrame:
    """Hill estimator of the power-law tail index over a value column —
    one row (k, x_ref, alpha): alpha ~ 1 means an extremely heavy tail
    (Zipf-like doc lengths: truncation budgets bite hard), alpha > 2 a
    tame tail — the number that decides whether max-length caps are a
    rounding concern or a corpus-shaping decision.

    alpha = k / Σ_{i=1..k} ln(x_(i) / x_(k+1)) over the k largest
    values, with x_(k+1) the reference order statistic. Determinism:
    the top-(k+1) selection is a TakeOrdered with (value DESC, id ASC)
    ties; the reference is the min of that bounded set (one more fold);
    each ln term is rounded 9 dp + DECIMAL-summed; one terminal
    division. Zero/negative values excluded (log-undefined)."""
    if k < 10:
        raise ValueError(f"k must be >= 10 for a stable estimate (got {k})")
    pos = docs.select(
        F.col("doc_id"), F.col(value_col).cast("long").alias("v")
    ).filter(F.col("v") > 0)
    top = pos.orderBy(F.desc("v"), F.asc("doc_id")).limit(k + 1)
    ref = top.agg(F.min("v").alias("_xr"))
    # exactly k terms: the k largest of the k+1 by (v desc, doc_id) —
    # the row ranked k+1 IS the reference order statistic
    w = Window.orderBy(F.desc("v"), F.asc("doc_id"))
    kept = (
        top.crossJoin(F.broadcast(ref))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
    )
    term = F.round(
        F.log(F.col("v").cast("double") / F.col("_xr").cast("double")), 9
    ).cast("decimal(20,9)")
    agg = kept.agg(
        F.max("_xr").alias("x_ref"),
        F.sum(term).alias("_s"),
    )
    return agg.select(
        F.lit(k).alias("k"),
        "x_ref",
        F.round(
            F.lit(float(k)) / F.col("_s").cast("double"), 6
        ).alias("alpha"),
    )
