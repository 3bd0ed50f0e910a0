"""Training-data curation operators beyond per-document quality scoring:
benchmark decontamination, vocabulary/OOV profiling, source-mixture
rebalancing, context-window chunking, greedy sequence packing, and
character-diversity gibberish signals.

Reference scope: the reference (src/processor.py, src/data_transformer.py)
scores and rewrites documents in isolation via remote LLM calls; none of
these corpus-level curation steps exist there. They are part of this
repo's beyond-reference LLM-training-pipeline surface (SURVEY.md §2.6),
built Spark-first: every operator below is pure DataFrame expressions —
no Python UDFs anywhere — so the hot path stays in whole-stage codegen.

Cross-engine determinism discipline (same as operators/dedup.py):
tokenization uses the explicit 6-char whitespace class
(functions/tokenize.py), shingle/bucket keys are md5-derived 60-bit
longs, and every emitted ratio is integer-exact arithmetic divided once
at the end — no accumulated float sums — so each query's DuckDB oracle
twin matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import WS_PLUS
from .dedup import (
    connected_components,
    exact_dedup,
    jaccard_verify,
    minhash_candidate_pairs,
    shingle_keys,
    shingles,
)


def _words(text_col: str) -> F.Column:
    return F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), WS_PLUS),
        lambda w: w != F.lit(""),
    )


def benchmark_overlap(docs: DataFrame, bench: DataFrame, n: int = 3,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination: for each corpus document, how many of
    its distinct word n-gram shingles also appear in the benchmark set
    (eval-set leakage detection — the pre-training hygiene step that
    drops documents containing test-set n-grams).

    Spark shape at scale: the benchmark side is tiny relative to the
    corpus (eval suites are ~10⁶ n-grams vs 10¹² corpus docs), so its
    distinct key set is BROADCAST and the corpus side never shuffles —
    explode(distinct shingle keys) → broadcast left join → one hash
    aggregate back to the doc grain. Output is only the contaminated
    docs (n_hits > 0), linear in actual contamination, never in corpus
    size.

    Returns (doc_id, n_shingles, n_hits, hit_frac) for contaminated docs.
    """
    bench_keys = (
        bench.select(F.explode(shingle_keys(text_col, n)).alias("k"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ex = docs.select(
        F.col(id_col), F.explode(shingle_keys(text_col, n)).alias("k")
    )
    return (
        ex.join(F.broadcast(bench_keys), "k", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
        .withColumn(
            "hit_frac",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_shingles").cast("double"),
                9,
            ),
        )
    )


def oov_rate(docs: DataFrame, vocab_size: int = 200,
             text_col: str = "text", by: str = "lang") -> DataFrame:
    """Per-group out-of-vocabulary token rate against the corpus top-V
    vocabulary (tokenizer-coverage profiling: a slice with high OOV rate
    is gibberish, the wrong language, or needs its own vocab).

    Two passes, both bounded: (1) corpus term counts — explode → hash
    aggregate with map-side combine (shuffle ships partial counts, not
    tokens) → TakeOrderedAndProject top-V with a deterministic
    (count DESC, term ASC) tie at rank V; (2) the V-row vocabulary is
    BROADCAST back and per-group OOV is token-weighted integer sums —
    sum(oov_tokens)/sum(tokens), one exact division at the end, never a
    float mean of per-doc ratios.
    """
    words = _words(text_col)
    vocab = (
        docs.select(F.explode(words).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(vocab_size)
        .select("term", F.lit(1).alias("_in"))
    )
    ex = docs.select(F.col(by), F.explode(words).alias("term"))
    return (
        ex.join(F.broadcast(vocab), "term", "left")
        .groupBy(by)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"), 9),
        )
    )


def mixture_plan(docs: DataFrame, text_col: str = "text",
                 by: str = "source") -> DataFrame:
    """Source-mixture rebalancing plan: per-source token counts, the
    current corpus share, a uniform target share, and the epoch factor
    (target/current — >1 means upsample/repeat, <1 means downsample)
    that a data-mixing stage feeds into weighted sampling.

    One hash aggregate to the source grain (bounded: #sources rows),
    then totals ride a broadcast of that bounded table — the document
    table is scanned exactly once. All shares/epochs are exact integer
    sums divided once at the end.
    """
    per = docs.groupBy(by).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(_words(text_col)).cast("long")).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("_t"), F.count("*").alias("_s")
    )
    cur = F.col("n_tokens").cast("double") / F.col("_t").cast("double")
    tgt = F.lit(1.0) / F.col("_s").cast("double")
    epochs = F.col("_t").cast("double") / (
        F.col("_s").cast("double") * F.col("n_tokens").cast("double")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            by, "n_docs", "n_tokens",
            F.round(cur, 9).alias("current_share"),
            F.round(tgt, 9).alias("target_share"),
            F.round(epochs, 9).alias("epochs"),
            F.round(F.least(F.lit(1.0), epochs), 9).alias("sampling_rate"),
        )
    )


def chunk_plan(docs: DataFrame, chunk_tokens: int = 64,
               text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Context-window chunking plan: split each document into fixed-size
    token windows — (doc_id, chunk_id, chunk_tokens) with the tail chunk
    carrying the remainder. The sharding step before tokenized training
    examples are materialized.

    Map-only: ceil-divide in integer arithmetic, explode a bounded
    sequence(0, n_chunks−1) — output rows are linear in total tokens /
    chunk size, NO shuffle anywhere in the plan. Zero-token documents
    produce zero chunks (filtered, not a 0-length chunk row).
    """
    n_tok = F.size(_words(text_col)).cast("long")
    d = docs.select(F.col(id_col), n_tok.alias("n_tok")).filter(F.col("n_tok") > 0)
    # integral ceil-divide (DIV) — float division then truncate would be
    # exact only below 2^53 tokens
    n_chunks = F.expr(f"(n_tok + {chunk_tokens - 1}) DIV {chunk_tokens}")
    return (
        d.withColumn("n_chunks", n_chunks)
        .select(
            id_col, "n_tok", "n_chunks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
        )
        .withColumn(
            "chunk_tokens",
            F.least(F.lit(chunk_tokens),
                    F.col("n_tok") - F.col("chunk_id") * F.lit(chunk_tokens)),
        )
        .select(id_col, "chunk_id", "chunk_tokens", "n_chunks")
    )


def pack_bins(docs: DataFrame, capacity_tokens: int = 2048,
              text_col: str = "text", id_col: str = "doc_id",
              by: str = "source") -> DataFrame:
    """Greedy offset-based sequence packing: within each stream
    (source), documents in doc_id order are laid head-to-tail and the
    bin index is floor(exclusive-prefix-tokens / capacity) — the
    deterministic packing a pre-training shard writer uses to fill
    context windows without a sequential driver loop.

    One window shuffle on the stream key (running sum over ROWS
    UNBOUNDED PRECEDING → 1 PRECEDING — O(1) state per row, never a
    buffered partition), then a hash aggregate to the (stream, bin)
    grain. At 10¹² docs the stream key must be finer than `source`
    (source × shard-date), keeping every window partition bounded; the
    packing definition is unchanged because bins never cross streams.

    Returns per (stream, bin): n_docs, bin_tokens, first/last doc_id.
    """
    n_tok = F.size(_words(text_col)).cast("long")
    w = (
        Window.partitionBy(by).orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = (
        docs.select(F.col(by), F.col(id_col), n_tok.alias("n_tok"))
        .withColumn("_cum_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
        .withColumn("bin_id", F.expr(f"_cum_before DIV {capacity_tokens}"))
    )
    return d.groupBy(by, "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def char_diversity(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", by: str = "lang") -> DataFrame:
    """Per-group character-diversity profile: distinct-character count
    and the Simpson index (probability two randomly drawn characters are
    equal — near 1.0 for repeated-character spam, low for natural prose).
    The gibberish/obfuscation signal character entropy usually serves,
    chosen in its rational (Σc²/n²) form so every value is EXACT integer
    arithmetic — no log(), whose last-ulp engine differences would make
    an accumulated float sum oracle-fragile.

    Shape: explode to (doc, char) → hash aggregate with map-side combine
    (shuffle ships per-(doc,char) partial counts, bounded by doc count ×
    alphabet, not by text size) → per-doc exact Simpson → one bounded
    aggregate to the group grain. Per-doc ratios are rounded once and
    carried as decimals so the group mean is an exact decimal sum.
    """
    ch = F.explode(F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), ""),
                            lambda c: c != F.lit(""))).alias("ch")
    counts = (
        docs.select(F.col(by), F.col(id_col), ch)
        .groupBy(by, id_col, "ch")
        .agg(F.count("*").alias("c"))
    )
    per_doc = counts.groupBy(by, id_col).agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    ).withColumn(
        "simpson",
        F.round(F.col("sum_c2").cast("double") / (F.col("n") * F.col("n")).cast("double"), 9),
    )
    return per_doc.groupBy(by).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_distinct").alias("sum_distinct_chars"),
        (F.sum(F.col("simpson").cast("decimal(20,9)")).cast("double")
         / F.count("*").cast("double")).alias("_mean_simpson"),
    ).select(
        by, "n_docs", "sum_distinct_chars",
        F.round("_mean_simpson", 9).alias("mean_simpson"),
    )


def stopword_coverage(docs: DataFrame, by: str = "lang",
                      text_col: str = "text") -> DataFrame:
    """Per-group stopword coverage by exact token-set membership against
    the shared STOPWORDS lexicon (functions/heuristics.py) — the C4/Gopher
    naturalness prior ("real prose contains function words") as a
    JOIN-based signal. This complements the regex `stopword_ratio` used
    inside score_core: token equality after lowercasing needs no word
    boundary semantics, so unlike the (?U)\\b regex form it is exactly
    expressible in every engine and can be oracle-paired.

    Shape: the lexicon (~100 rows) is a BROADCAST build side; the corpus
    explode never shuffles before the bounded group fold. Rates are
    token-weighted integer sums divided once.
    """
    from ..functions.heuristics import STOPWORDS

    spark = docs.sparkSession
    lex = spark.createDataFrame(
        [(w,) for w in STOPWORDS], "term string"
    ).withColumn("_s", F.lit(1))
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), WS_PLUS),
        lambda w: w != F.lit(""),
    )
    ex = docs.select(F.col(by), F.explode(toks).alias("term"))
    return (
        ex.join(F.broadcast(lex), "term", "left")
        .groupBy(by)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("_s"), F.lit(0))).alias("n_stop"),
        )
        .withColumn(
            "stop_rate",
            F.round(F.col("n_stop").cast("double") / F.col("n_tokens").cast("double"), 9),
        )
    )


def host_of(url_col) -> F.Column:
    """Lowercased host extracted from a URL column (name or Column):
    scheme-stripped authority with userinfo and port removed — a pure
    regexp_extract, identical in DuckDB, so host-keyed queries stay
    oracle-checkable. Malformed/NULL urls map to ''."""
    u = F.coalesce(
        F.col(url_col) if isinstance(url_col, str) else url_col, F.lit("")
    )
    return F.lower(
        F.regexp_extract(
            u, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)", 1
        )
    )


def domain_reputation(df: DataFrame, url_col: str = "url",
                      score_col: str = "score") -> DataFrame:
    """Per-host document count and total/mean quality:
    (host, n_docs, score_sum, avg_score).

    The FineWeb/RefinedWeb-style domain-reputation fold: individual page
    scores are noisy, but a HOST whose pages are consistently short /
    low-quality is a spam farm, and blocking at host grain catches its
    future pages too. One shuffle at host grain (hosts ≪ docs; the web
    is ~10⁸ registrable domains vs 10¹² pages, so the aggregate state is
    4 orders smaller than the input and partials combine map-side).

    Cross-engine exactness discipline: ``score_col`` should be integral
    (token counts, char counts, rule hits) — the sum is then exact in
    any engine and the mean is ONE terminal division, so the DuckDB twin
    matches bit-for-bit; float score sums would accumulate in
    engine-specific order."""
    return (
        df.groupBy(host_of(url_col).alias("host"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col(score_col).cast("long")).alias("score_sum"),
        )
        .withColumn(
            "avg_score",
            F.col("score_sum").cast("double") / F.col("n_docs").cast("double"),
        )
    )


def domain_blocklist(rep: DataFrame) -> DataFrame:
    """Hosts whose mean score is below the corpus-wide mean — the
    data-induced blocklist (no curated lexicon; the corpus defines its
    own floor).

    The comparison is integer cross-multiplication
    (host_sum × total_docs < total_sum × host_docs), never a float
    divide — bit-identical across engines at the boundary. The global
    total is a 1-row aggregate broadcast into the comparison, not a
    driver collect."""
    tot = rep.agg(
        F.sum("n_docs").alias("_tn"), F.sum("score_sum").alias("_ts")
    )
    return (
        rep.crossJoin(F.broadcast(tot))
        .filter(F.col("score_sum") * F.col("_tn") < F.col("_ts") * F.col("n_docs"))
        .select("host", "n_docs", "score_sum", "avg_score")
    )


def blocklist_filter(df: DataFrame, blocked: DataFrame,
                     url_col: str = "url") -> DataFrame:
    """Drop every row whose url host appears in ``blocked`` (host
    column). Broadcast left_anti — the blocklist is host-grain (tiny),
    so the corpus never shuffles: the filter is map-side, pushed to
    right after the scan."""
    return df.join(
        F.broadcast(blocked.select("host")),
        host_of(url_col) == F.col("host"),
        "left_anti",
    )


def canonical_url(url_col) -> F.Column:
    """Canonical form of a URL for dedup keying: lowercase scheme+host,
    default port and fragment stripped, tracking query params (utm_*,
    fbclid, gclid) removed, then a dangling '?'/'&' and one trailing
    slash on a non-root path dropped. Pure regexp_replace chain kept
    inside RE2's feature set (no lookarounds — DuckDB's regex engine),
    so URL-keyed dedup stays oracle-checkable. NULL urls map to ''."""
    u = F.coalesce(
        F.col(url_col) if isinstance(url_col, str) else url_col, F.lit("")
    )
    # lowercase scheme://host[:port] (leave path/query case alone):
    # split-point concat — extract() yields '' on non-URLs, replace()
    # then removes nothing, so non-URL strings pass through unchanged
    auth = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?[^/:?#]+(?::[0-9]+)?"
    u = F.concat(
        F.lower(F.regexp_extract(u, f"({auth})", 1)),
        F.regexp_replace(u, auth, ""),
    )
    u = F.regexp_replace(u, r"^(https?://[^/:?#]+):(?:80|443)([/?#].*)?$", r"$1$2")
    u = F.regexp_replace(u, r"#.*$", "")
    u = F.regexp_replace(u, r"([?&])(?:utm_[A-Za-z0-9_]*|fbclid|gclid)=[^&#]*", r"$1")
    u = F.regexp_replace(u, r"\?&+", "?")
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"[?&]$", "")
    u = F.regexp_replace(u, r"(://[^/?#]+/.+?)/$", r"$1")
    u = F.regexp_replace(u, r"^(https?://[^/?#]+)/$", r"$1")
    return u


def url_dedup(df: DataFrame, url_col: str = "url", ts_col: str = "crawl_ts",
              id_col: str = "doc_id") -> DataFrame:
    """Last-crawl-wins dedup at canonical-URL grain: of all crawls of
    the same canonical URL, keep the most recent (ties broken by
    highest id — deterministic). The re-crawl collapse every web corpus
    needs BEFORE content-level dedup: the same page fetched weekly is
    100% byte-dup of itself modulo timestamps, and collapsing it by KEY
    is one exact groupBy instead of content hashing.

    Shape: max_by over a zero-padded (epoch-µs|id) string key — ONE
    map-side-combinable aggregate at URL grain (the a24 endpoint
    discipline: no Window, no sort, the hottest URL folds in partial
    aggregates). Returns (canonical_url, kept id, kept crawl_ts)."""
    key = F.concat(
        F.lpad(F.unix_micros(F.col(ts_col).cast("timestamp")).cast("string"), 20, "0"),
        F.lit("|"),
        F.lpad(F.col(id_col).cast("string"), 20, "0"),
    )
    return (
        df.groupBy(canonical_url(url_col).alias("canonical_url"))
        .agg(
            F.max_by(F.col(id_col), key).alias(id_col),
            F.max_by(F.col(ts_col), key).alias(ts_col),
            F.count("*").alias("n_crawls"),
        )
    )


def leak_safe_split(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    weights: tuple[int, int, int] = (80, 10, 10)) -> DataFrame:
    """Deterministic train/val/test assignment that cannot leak
    trivially-reformatted copies across splits: the split key is the
    CANONICAL text form (lowercased, whitespace runs collapsed — the
    same normalization :func:`~..operators.dedup.canonical_dedup` keys
    on), so byte-identical and case/wrap-variant copies always land in
    the SAME split. Splitting on doc_id instead is the classic eval-
    contamination bug — a near-copy of a test doc trains the model on
    its own benchmark.

    Assignment is pmod(60-bit md5 of the canonical form, 100) against
    cumulative integer weights — no RNG, no float boundary, identical in
    any engine, stable under re-runs, cluster sizes, and corpus
    re-ordering. Entirely MAP-SIDE: zero shuffles (plan-pinnable), so it
    composes into any scan for free at 100 TB."""
    if len(weights) != 3 or sum(weights) != 100 or any(w < 0 for w in weights):
        raise ValueError(f"weights must be 3 non-negatives summing to 100, got {weights}")
    from ..functions.tokenize import WS_PLUS

    canon = F.trim(
        F.regexp_replace(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))), WS_PLUS, " "
        )
    )
    u = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("long")
    b = F.pmod(u, F.lit(100))
    split = (
        F.when(b < weights[0], F.lit("train"))
        .when(b < weights[0] + weights[1], F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def normalize_punct(text_col) -> F.Column:
    """Web-text punctuation normalization (the NFKC-lite cleanup pass
    crawl pipelines run before tokenizing): curly quotes → straight,
    en/em/horizontal-bar dashes → '-', ellipsis char → '...', NBSP and
    ideographic space → ' ', zero-width characters and soft hyphens
    removed. A translate() for the 1:1 maps plus replace() for the 1:n
    maps — both whole-stage-codegen JVM expressions with byte-identical
    DuckDB builtins, so normalization-dependent queries stay
    oracle-checkable. NULL maps to ''."""
    u = F.coalesce(
        F.col(text_col) if isinstance(text_col, str) else text_col, F.lit("")
    )
    # 1:1 maps: curly/low-9 quotes, primes, dashes, spaces
    src = "\u2018\u2019\u201a\u2032" + "\u201c\u201d\u201e\u2033" \
          + "\u2013\u2014\u2015" + "\u00a0\u3000"
    dst = "''''" + '""""' + "---" + "  "
    u = F.translate(u, src, dst)
    # 1:n / 1:0 maps
    u = F.replace(u, F.lit("\u2026"), F.lit("..."))
    for zw in ("\u200b", "\u200c", "\u200d", "\ufeff", "\u00ad"):
        u = F.replace(u, F.lit(zw), F.lit(""))
    return u


def ks_drift(df: DataFrame, value_col: str = "n_chars",
             group_col: str = "source") -> DataFrame:
    """Per-group two-sample Kolmogorov–Smirnov statistic of each group's
    value distribution against the REST of the corpus: D = max over x of
    |ECDF_group(x) − ECDF_rest(x)|. The standard distribution-drift
    alarm for crawl snapshots — a source whose document-length (or
    score) distribution walks away from the corpus signals an
    extraction regression or a template flood long before means move
    (KS sees shape, not just location). Returns one row per group:
    (group, n_in, n_rest, ks_stat).

    Scale shape (same value-compression trick as the exact-quantile
    histogram, operators/textstats.py): values collapse to a
    (group, value) count table — map-side combinable, shuffle rows =
    distinct values × groups, not rows. The ECDF difference needs every
    group's cumulative count at EVERY corpus-distinct value, so the
    bounded group roster cross-joins the distinct-value table (groups ×
    values rows — both small: groups is a census, values compress) and
    two cumulative windows (per group over value; global over value)
    produce ECDFs; the max-abs-difference fold is order-free. No
    per-row state anywhere; a 10¹²-row input with integer lengths
    reaches the windows as at most groups × distinct-values rows.

    Float discipline: each candidate |F_in − F_rest| is one fixed IEEE
    op sequence over identical integer counts, rounded to 9 dp; MAX
    (unlike SUM) is accumulation-order-free, so the statistic is
    bit-identical cross-engine."""
    gv = df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
    c = gv.groupBy("g", "v").agg(F.count("*").alias("c"))
    vals = c.groupBy("v").agg(F.sum("c").alias("_unused")).select("v")
    groups = c.groupBy("g").agg(F.sum("c").alias("n_in"))
    total_tbl = gv.agg(F.count("*").alias("_N"))
    grid = groups.crossJoin(vals).join(c, ["g", "v"], "left").select(
        "g", "v", "n_in", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    # per-group running count over values; the corpus running count is
    # the per-value SUM of those (cum_all(v) = Σ_g cum_in(g, v)) — a
    # second window on the SAME grid, no global-order single-task sort
    # and no join-back.
    stepped = grid.withColumn(
        "cum_in", F.sum("c").over(Window.partitionBy("g").orderBy("v"))
    ).withColumn(
        "cum_all", F.sum("cum_in").over(Window.partitionBy("v"))
    ).crossJoin(F.broadcast(total_tbl))
    f_in = F.col("cum_in").cast("double") / F.col("n_in").cast("double")
    n_rest = F.col("_N") - F.col("n_in")
    f_rest = (F.col("cum_all") - F.col("cum_in")).cast("double") / n_rest.cast("double")
    # single-group corpora have no "rest" sample — NULL, not 0/0 noise
    d = F.when(n_rest > 0, F.round(F.abs(f_in - f_rest), 9))
    return (
        stepped.groupBy("g", "n_in", "_N")
        .agg(F.max(d).alias("ks_stat"))
        .select(
            F.col("g").alias(group_col),
            F.col("n_in"),
            (F.col("_N") - F.col("n_in")).alias("n_rest"),
            "ks_stat",
        )
    )


def unigram_kl_drift(df: DataFrame, text_col: str = "text",
                     group_col: str = "source",
                     top_v: int = 5000) -> DataFrame:
    """Per-group add-1-smoothed KL divergence of the group's unigram
    distribution from the REST of the corpus, over the corpus's
    ``top_v`` most frequent terms — the lexical complement of
    ``ks_drift``: KS sees numeric shape (lengths, scores); KL sees
    WHICH WORDS a source uses. A crawl source whose term distribution
    walks away from the corpus signals topic collapse, spam floods, or
    an extraction regression. Returns (group, n_tokens_vocab, kl_vs_rest).

    Scale shape: the vocabulary is bounded FIRST — term totals are one
    map-side-combined aggregate, the top_v cut is TakeOrdered (per-
    partition heaps, integral tie-break by term), so the grid is groups
    × top_v cells, never groups × raw-vocab (hapaxes are ~half of a
    web vocab; they carry no drift signal and would explode the grid).
    Distributions are defined over exactly this vocab on both sides of
    the divergence, so the comparison is apples-to-apples. Absent
    terms contribute their smoothed mass via the left-join-null cell.

    Float discipline: each cell's p·ln(p/q) is a fixed IEEE sequence
    over identical integer counts, rounded to 12 dp and DECIMAL-summed
    (order-free); one final round."""
    gv = df.select(F.col(group_col).alias("g"),
                   F.explode(_words(text_col)).alias("t"))
    tc = gv.groupBy("g", "t").agg(F.count("*").alias("c"))
    vocab = (
        tc.groupBy("t").agg(F.sum("c").alias("ct"))
        .orderBy(F.col("ct").desc(), F.col("t").asc())
        .limit(top_v)
    )
    vt = tc.join(vocab.select("t"), "t", "left_semi")
    groups = vt.groupBy("g").agg(F.sum("c").alias("n_g"))
    consts = vocab.agg(
        F.count("*").alias("_V"), F.sum("ct").alias("_n")
    )
    grid = (
        groups.crossJoin(vocab)
        .join(vt, ["g", "t"], "left")
        .select("g", "t", "n_g", "ct",
                F.coalesce(F.col("c"), F.lit(0)).alias("c"))
        .crossJoin(F.broadcast(consts))
    )
    p = (F.col("c") + 1).cast("double") / (F.col("n_g") + F.col("_V")).cast("double")
    q = (F.col("ct") - F.col("c") + 1).cast("double") / (
        (F.col("_n") - F.col("n_g")) + F.col("_V")
    ).cast("double")
    cell = F.round(p * F.log(p / q), 12).cast("decimal(30,12)")
    return (
        grid.groupBy("g", "n_g")
        .agg(F.round(F.sum(cell).cast("double"), 6).alias("kl_vs_rest"))
        .select(F.col("g").alias(group_col),
                F.col("n_g").alias("n_tokens_vocab"),
                "kl_vs_rest")
    )


def chunk_plan_strided(docs: DataFrame, chunk_tokens: int = 64,
                       stride: int = 48, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """OVERLAPPING context-window chunking: windows of ``chunk_tokens``
    starting every ``stride`` tokens (stride < chunk ⇒ consecutive
    windows share chunk−stride tokens — the standard pretraining
    overlap that keeps context from being cut mid-thought at window
    boundaries; stride == chunk degenerates to :func:`chunk_plan`).
    Returns (doc_id, chunk_id, start_tok, chunk_len, n_chunks); the
    final window is the first one that reaches the document's end
    (shorter if the doc is), so every token is covered exactly and no
    fully-redundant tail window is emitted.

    Same map-only shape as chunk_plan: integral arithmetic for the
    window count (n = 1 + ceil(max(0, n_tok − chunk)/stride)), one
    bounded sequence explode, NO shuffle. Output rows ≈ tokens/stride —
    the overlap multiplies training data by chunk/stride, a factor the
    plan makes explicit instead of hiding in a tokenizer."""
    if stride < 1 or chunk_tokens < 1:
        raise ValueError(f"chunk_tokens and stride must be >= 1 "
                         f"(got {chunk_tokens}, {stride})")
    if stride > chunk_tokens:
        raise ValueError(
            f"stride {stride} > chunk_tokens {chunk_tokens} would skip tokens"
        )
    n_tok = F.size(_words(text_col)).cast("long")
    d = docs.select(F.col(id_col), n_tok.alias("n_tok")).filter(F.col("n_tok") > 0)
    n_chunks = F.expr(
        f"1 + (greatest(n_tok - {chunk_tokens}, 0) + {stride - 1}) DIV {stride}"
    )
    start = F.col("chunk_id") * F.lit(stride)
    return (
        d.withColumn("n_chunks", n_chunks)
        .select(
            id_col, "n_tok", "n_chunks",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
        )
        .select(
            id_col, "chunk_id",
            start.alias("start_tok"),
            F.least(F.lit(chunk_tokens), F.col("n_tok") - start).alias("chunk_len"),
            "n_chunks",
        )
    )


def mixture_plan_temperature(docs: DataFrame, temperature: float = 2.0,
                             text_col: str = "text",
                             by: str = "source") -> DataFrame:
    """Temperature-scaled source mixing (the mT5/XLM-R sampling rule):
    target share ∝ current_shareᵝ with β = 1/temperature — T = 1 keeps
    natural proportions, T → ∞ approaches uniform, intermediate T
    upsamples small sources without drowning large ones. Returns per
    source (n_docs, n_tokens, current_share, target_share, epochs);
    ``epochs`` > 1 means repeat/upsample.

    Same bounded shape as mixture_plan: ONE hash aggregate to the
    source grain, totals broadcast back — the corpus scans once. Float
    discipline: shares are exact integer divisions; the power term
    pow(share, β) is one fixed IEEE call per SOURCE (a bounded census,
    not per row), its normalizing sum is rounded + DECIMAL-folded
    order-free, and every emitted ratio is rounded once."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    beta = 1.0 / temperature
    per = docs.groupBy(by).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(_words(text_col)).cast("long")).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("_t"))
    cur = F.col("n_tokens").cast("double") / F.col("_t").cast("double")
    powed = per.crossJoin(F.broadcast(tot)).withColumn(
        "_p", F.round(F.pow(cur, F.lit(beta)), 12)
    )
    norm = powed.agg(
        F.sum(F.col("_p").cast("decimal(30,12)")).alias("_z")
    )
    tgt = F.col("_p") / F.col("_z").cast("double")
    epochs = tgt / (F.col("n_tokens").cast("double") / F.col("_t").cast("double"))
    return (
        powed.crossJoin(F.broadcast(norm))
        .select(
            by, "n_docs", "n_tokens",
            F.round(F.col("n_tokens").cast("double")
                    / F.col("_t").cast("double"), 9).alias("current_share"),
            F.round(tgt, 9).alias("target_share"),
            F.round(epochs, 9).alias("epochs"),
        )
    )


def gini_concentration(df: DataFrame, group_col: str = "source",
                       weight_col: str | None = None) -> DataFrame:
    """One-row Gini coefficient of corpus concentration across
    ``group_col`` — (n_groups, total_weight, gini). 0 = perfectly even
    source mix, ->1 = one source dominates; the single-number diversity
    alarm next to mixture_plan's per-source shares (a crawl that
    quietly collapses onto three mega-hosts moves this long before any
    per-source table gets eyeballed).

    Formula (sorted ascending x_1..x_n, rank i):
    G = (2*sum(i*x_i) - (n+1)*sum(x_i)) / (n*sum(x_i)). Both sums are
    exact integer/DECIMAL aggregates over the ALREADY-AGGREGATED
    per-group table (n_groups rows — the rank window sorts sources,
    never documents), and the one float division happens on two scalars
    at the end, so the value is bit-identical cross-engine. Rank ties
    break by group name ascending; the formula's value is tie-order
    invariant anyway (equal x_i swap ranks without changing sum(i*x_i)
    ... which keeps the report deterministic AND correct).

    ``weight_col`` weighs groups by a column sum (e.g. n_chars for
    byte-share concentration) instead of row counts; weights are summed
    in DECIMAL(20,6) micro-exactly before ranking."""
    # precision discipline: x at DECIMAL(20,6), rank at DECIMAL(10,0) —
    # the product is DECIMAL(31,6) under BOTH engines' width rules (sum
    # p1+p2+1 <= 38), so no engine-specific precision clamp/truncation
    # can make the exact sums diverge.
    if weight_col is None:
        per = df.groupBy(F.col(group_col).alias("grp")).agg(
            F.count("*").cast("decimal(20,6)").alias("x")
        )
    else:
        per = df.groupBy(F.col(group_col).alias("grp")).agg(
            F.sum(F.col(weight_col).cast("decimal(14,6)"))
            .cast("decimal(20,6)").alias("x")
        )
    w = Window.orderBy(F.asc("x"), F.asc("grp"))
    ranked = per.withColumn("i", F.row_number().over(w))
    agg = ranked.agg(
        F.count("*").alias("n_groups"),
        F.sum("x").alias("_sx"),
        F.sum(F.col("i").cast("decimal(10,0)") * F.col("x")).alias("_six"),
    )
    gini = (
        F.lit(2.0) * F.col("_six").cast("double")
        - (F.col("n_groups") + 1).cast("double") * F.col("_sx").cast("double")
    ) / (F.col("n_groups").cast("double") * F.col("_sx").cast("double"))
    return agg.select(
        "n_groups",
        F.col("_sx").cast("double").alias("total_weight"),
        F.round(gini, 6).alias("gini"),
    )


# Homoglyph fold map: the common Cyrillic/Greek lookalikes that spam
# pipelines substitute to dodge exact-match filters ("pаypal" with a
# Cyrillic а). Spelled as \u escapes on BOTH engines (the
# normalize_punct discipline) so invisible-character drift can't creep
# into source files.
_HOMOGLYPH_FROM = (
    "аеорсхуіѕ"   # а е о р с х у і ѕ
    "АЕОРСХ"                      # А Е О Р С Х
    "οαΑΕΟ"                            # ο α Α Ε Ο
)
_HOMOGLYPH_TO = "aeopcxyisAEOPCXoaAEO"


def homoglyph_fold(text_col) -> F.Column:
    """Fold common Cyrillic/Greek homoglyphs onto their Latin
    lookalikes — ONE translate() (whole-stage codegen; byte-identical
    builtin in DuckDB). A document whose folded form differs from the
    original contains script-spoofed characters: the cheap
    filter-evasion detector run before exact/canonical dedup, whose
    keys a single substituted letter would otherwise split."""
    return F.translate(
        F.coalesce(text_col, F.lit("")), _HOMOGLYPH_FROM, _HOMOGLYPH_TO
    )


def homoglyph_census(docs: DataFrame, text_col: str = "text",
                     by: str = "source") -> DataFrame:
    """Per-group homoglyph-spoofing census: (group, n_docs, n_spoofed,
    spoof_rate) where a doc is spoofed iff its homoglyph fold differs
    from the raw text. Map-only detection (translate + one equality),
    one bounded fold; the rate is an exact integer ratio divided
    once."""
    spoofed = homoglyph_fold(F.col(text_col)) != F.coalesce(
        F.col(text_col), F.lit("")
    )
    return docs.groupBy(by).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(spoofed, 1).otherwise(0)).alias("n_spoofed"),
    ).withColumn(
        "spoof_rate",
        F.round(
            F.col("n_spoofed").cast("double") / F.col("n_docs").cast("double"), 9
        ),
    )


def quantile_normalize(df: DataFrame, value_col: str, group_col: str,
                       id_col: str = "doc_id") -> DataFrame:
    """Cross-group quantile normalization (the batch-effect correction
    of microarray statistics, applied to corpus curation): map each
    row's value to the POOLED distribution's value at the same relative
    rank within its group, so a global threshold means the same thing
    for every source even when sources' raw distributions differ
    (one host's "long" is another's median — normalize before a single
    keep cutoff). Returns (id, group, value, norm_value).

    All-integer construction — no float op anywhere, so cross-engine
    identity is structural: per-group rank rn over the total order
    (value, id); pooled target index via round-half-up rational
    idx = 1 + round((N−1)(rn−1)/(ng−1)) (group of one maps to the
    pooled median); the pooled value at a rank is read from the
    VALUE-COMPRESSED cumulative histogram (ranks [lo, hi] per distinct
    value), never a global row sort — at web scale the histogram is
    bounded by distinct values and broadcasts, while a naive pooled
    row_number would total-order the corpus in one task. The per-group
    rank window sorts within each group; for Zipf-head groups switch
    the group side to its own histogram cume (same values, documented).
    """
    v, g = F.col(value_col), F.col(group_col)
    n_tbl = df.agg(F.count("*").alias("_N"))
    wg = Window.partitionBy(group_col).orderBy(value_col, id_col)
    ranked = df.select(
        F.col(id_col), g.alias("_g"), v.alias("_v"),
        F.row_number().over(wg).alias("_rn"),
        F.count("*").over(Window.partitionBy(group_col)).alias("_ng"),
    )
    idx = F.when(
        F.col("_ng") > 1,
        F.lit(1) + F.expr("(2 * (_N - 1) * (_rn - 1) + (_ng - 1)) "
                          "DIV (2 * (_ng - 1))"),
    ).otherwise(F.expr("(_N + 1) DIV 2"))
    tgt = ranked.crossJoin(F.broadcast(n_tbl)).withColumn("_idx", idx)
    hist = (
        df.groupBy(v.alias("_hv")).agg(F.count("*").alias("_c"))
        .withColumn("_hi", F.sum("_c").over(Window.orderBy("_hv")))
        .withColumn("_lo", F.col("_hi") - F.col("_c") + 1)
    )
    return (
        tgt.join(
            F.broadcast(hist),
            (F.col("_idx") >= F.col("_lo")) & (F.col("_idx") <= F.col("_hi")),
        )
        .select(
            F.col(id_col),
            F.col("_g").alias(group_col),
            F.col("_v").alias(value_col),
            F.col("_hv").alias(f"norm_{value_col}"),
        )
    )


def greedy_coverage_select(df: DataFrame, k: int = 3,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           ngram: int = 1) -> DataFrame:
    """Greedy maximum-coverage data selection (the submodular
    facility-location recipe of data-subset selection): pick ``k``
    documents one at a time, each maximizing the number of NEW distinct
    tokens it adds to the running covered vocabulary (ties → lowest
    id). The classic 1−1/e-approximate coverage maximizer — "which k
    docs teach the tokenizer/model the most vocabulary" — and the
    deterministic core of submodular corpus pruning. Returns one row
    per step: (step, doc_id, new_terms, covered_total).

    Scale shape per step: ONE distributed aggregate — explode to
    (doc, term), anti-join the ≤|covered| broadcast of already-covered
    terms, count per doc, TakeOrdered(1) — the greedy argmax never
    sorts the corpus. The driver holds only the k selected ids and the
    covered-term DataFrame lineage (unioned term sets of ≤k docs —
    bounded); k is a small constant so the python loop builds k plans.
    A 10⁶-doc selection would switch to the stochastic-greedy variant
    (sample candidates per step), same per-step shape. ``ngram`` > 1
    covers distinct word n-grams instead of unigrams — on template
    corpora whose unigram vocabulary one doc can exhaust, trigram
    coverage is the non-degenerate objective."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1, got {ngram}")
    if ngram == 1:
        units = F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), WS_PLUS),
            lambda w: F.length(w) > 0,
        )
    else:
        units = shingles(text_col, ngram)
    terms = df.select(F.col(id_col),
                      F.explode(F.array_distinct(units)).alias("_t"))
    # Materialize the exploded (doc, unit) table ONCE: every greedy step
    # re-reads it (gain pass + covered-set extraction), and without the
    # checkpoint each pass re-tokenizes and re-shingles the corpus from
    # parquet — measured 14.2 s -> ~5 s for k=3 trigrams at sf0.1. At
    # petabyte scale prefer persist(DISK_ONLY) or a staged parquet table
    # so the materialization is spillable/shareable.
    terms = terms.localCheckpoint(eager=True)
    spark = df.sparkSession
    covered = None
    chosen: list[int] = []
    out_rows = []
    total = 0
    for step in range(1, k + 1):
        cand = terms.filter(~F.col(id_col).isin(chosen)) if chosen else terms
        fresh = (
            cand.join(F.broadcast(covered), "_t", "left_anti")
            if covered is not None else cand
        )
        gains = fresh.groupBy(id_col).agg(F.count("*").alias("_gain"))
        top = gains.orderBy(F.desc("_gain"), F.asc(id_col)).limit(1).collect()
        if not top:
            break
        sel, gain = top[0][id_col], top[0]["_gain"]
        chosen.append(sel)
        total += gain
        out_rows.append((step, sel, gain, total))
        sel_terms = terms.filter(F.col(id_col) == sel).select("_t").distinct()
        covered = (
            sel_terms if covered is None
            else covered.unionByName(sel_terms).distinct()
        )
    return spark.createDataFrame(
        out_rows, "step int, doc_id long, new_terms long, covered_total long"
    )


def cluster_safe_split(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       threshold: float = 0.7) -> DataFrame:
    """NEAR-DUP-CLUSTER-aware train/val/test split: every member of a
    MinHash-verified connected component inherits the split of its
    component label, so near-duplicate pages can never straddle train
    and test — the leakage mode :func:`leak_safe_split` (canonical-text
    keying) cannot catch, and the one that actually inflates eval
    numbers (a test doc whose 0.9-Jaccard sibling was trained on).
    Returns (id, comp, split) for EVERY input row; assignment is
    pmod(md5(comp), 100) against the fixed 80/10/10 boundaries — no
    RNG, stable across runs and engines.

    Scale shape: the component machinery is the documented cc_dedup
    stack (exact-collapse first, band self-join, verified edges, one
    job per propagation round); the split itself adds one id-keyed
    join back through each doc's exact-dup representative and a
    map-side bucket expression."""
    keyed = df.select(F.col(id_col), F.md5(F.coalesce(F.col(text_col),
                                                      F.lit(""))).alias("_k"))
    reps = keyed.groupBy("_k").agg(F.min(id_col).alias("_rep"))
    withrep = keyed.join(reps, "_k").select(F.col(id_col), F.col("_rep"))
    base = exact_dedup(df.select(F.col(id_col), F.col(text_col)),
                       text_col, id_col)
    pairs = jaccard_verify(
        base, minhash_candidate_pairs(base, text_col, id_col),
        text_col, id_col, threshold,
    )
    labels = connected_components(pairs.select("a", "b"))
    comp = (
        withrep.join(labels.withColumnRenamed("node", "_rep"), "_rep", "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("comp"), F.col("_rep")).alias("comp"),
        )
    )
    b = F.pmod(
        F.conv(F.substring(F.md5(F.col("comp").cast("string")), 1, 15),
               16, 10).cast("long"),
        F.lit(100),
    )
    return comp.select(
        F.col(id_col), "comp",
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test")).alias("split"),
    )
