"""Deduplication operators for web-scale corpora.

The reference dedups only by exact id (anti-join ``src/data_transformer.py:458-473``,
merge ``:303-311``). A 100 TB training-data pipeline needs content dedup —
these operators add the standard stack (exact hash, word-set, MinHash+LSH,
SimHash, n-gram Jaccard) as DataFrame compositions.

Design notes for scale:
  * Exact/word-set dedup is one shuffle on the content key.
  * MinHash-LSH is the linear-time near-dup path: shingle keys → signature
    (map-side, pure exprs) → explode bands (×B rows) → self-join per band
    bucket → verified pairs. No O(n²) anywhere; AQE handles hot buckets.
  * Each document is shingled once, into 60-bit md5-prefix keys
    (``shingle_keys``); the end-to-end dedups materialise that
    (id, keys) table of the exact-collapsed input once and read it for
    the signature, the Jaccard verify and the survivors' ids, so the
    exact collapse runs once per dedup.
  * The MinHash family is integer arithmetic on those keys,
    (a·x + b) mod (2^61 − 1) reduced exactly in 64-bit steps
    (``MINHASH_COEFFS``), and a band key is the band's min-hash longs.
    The arithmetic is one SQL text (``minhash_hash_sql``) that Spark and
    the DuckDB twins both parse, and md5 is bit-identical in both, so
    every operator here is oracle-checkable end to end.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from ..functions.tokenize import WS_PLUS

_LOG = logging.getLogger(__name__)

# LSH geometry: K = BANDS * ROWS_PER_BAND min-hashes.
MINHASH_BANDS = 4
MINHASH_ROWS = 2


def cap_band_buckets(bandsdf: DataFrame, id_col: str,
                     max_bucket: int | None) -> DataFrame:
    """Bound LSH band buckets to ``max_bucket`` members each (opt-in).

    Exact-collapse removes byte-identical groups, but a cluster of K
    near-identical-but-not-byte-identical boilerplate pages (template
    spam) still shares band keys, so the bucket self-join emits ~K²
    candidate pairs — at 100 TB such clusters reach millions of members.
    The standard mitigation is a per-(band_id, band_key) representative
    cap: keep the ``max_bucket`` LOWEST ids (deterministic, and the ids
    the min-id survivor policy keeps anyway), drop the rest from the
    candidate stage only. This bounds every bucket's pair output at
    C(max_bucket, 2) at the cost of bounded recall: a dropped member can
    still collide in its other bands, and anything it would have matched
    is ~always also matched by a kept low-id rep of the same cluster.

    No silent caps: the dropped-row and hot-bucket counts are computed
    (one cheap aggregate over the materialized bands) and logged. The
    bands input is localCheckpoint-ed first so the expensive signature
    aggregate runs ONCE for the stats probe, the join's left side, and
    its right side."""
    if max_bucket is None:
        return bandsdf
    if max_bucket < 2:
        raise ValueError(f"max_bucket must be >= 2 (got {max_bucket}); "
                         "a 1-member bucket can emit no pairs at all")
    bandsdf = bandsdf.localCheckpoint(eager=True)
    w = Window.partitionBy("band_id", "band_key").orderBy(id_col)
    ranked = bandsdf.withColumn("_rn", F.row_number().over(w))
    over = ranked.filter(F.col("_rn") > max_bucket)
    stats = over.agg(
        F.count("*").alias("rows_dropped"),
        F.count_distinct("band_id", "band_key").alias("buckets_capped"),
    ).collect()[0]
    if stats["rows_dropped"]:
        _LOG.warning(
            "LSH bucket cap: dropped %d band rows across %d hot buckets "
            "(max_bucket=%d) — bounded-recall mode, lowest ids kept",
            stats["rows_dropped"], stats["buckets_capped"], max_bucket,
        )
    return ranked.filter(F.col("_rn") <= max_bucket).drop("_rn")


def _content_key(digest: F.Column) -> F.Column:
    """An md5 ``digest`` as a group key that is never NULL. No md5 is
    empty, so the NULL digest of a NULL text becomes a group of its own,
    as in a SQL ``GROUP BY md5(text)``; a NULL key would match nothing in
    the semi-join and drop every document of that group."""
    return F.coalesce(digest, F.lit(""))


def _min_id_per_key(df: DataFrame, digest: F.Column, id_col: str) -> DataFrame:
    """The rows of ``df`` whose id is the lowest among the rows sharing
    their ``digest``: groupBy(key) + min(id) + rejoin — one shuffle, no
    window, and the representative choice is deterministic (unlike
    dropDuplicates)."""
    keyed = df.withColumn("_k", _content_key(digest))
    reps = keyed.groupBy("_k").agg(F.min(id_col).alias(id_col))
    return keyed.join(reps, ["_k", id_col], "left_semi").drop("_k")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: keep the lowest id per distinct text
    (one document of the NULL texts too)."""
    return _min_id_per_key(df, F.md5(F.col(text_col)), id_col)


def wordset_signature(text_col: str) -> F.Column:
    """Canonical word-set signature: sorted distinct whitespace tokens.
    Jaccard=1 duplicates share it exactly. Tokenizes on the explicit
    Java-``\\s`` class (``tokenize.WS_PLUS`` — RE2-portable, see that
    module) like ``shingles``/SimHash — a tab- or newline-separated
    duplicate of a space-separated doc collapses under all three dedup
    families. A NULL text has the empty word set, as in the DuckDB twin."""
    words = F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), WS_PLUS),
                     lambda w: F.length(w) > 0)
    return F.array_join(F.array_sort(F.array_distinct(words)), " ")


def wordset_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Bag-of-words dedup: docs with identical word SETS collapse to the
    lowest id (near-dup for shuffled/reordered spam pages)."""
    return _min_id_per_key(df, F.md5(wordset_signature(text_col)), id_col)


def shingles(text_col: str, n: int = 3) -> F.Column:
    """Word n-gram shingles as an array column (pure exprs, no lambda).

    The text is normalised once (every whitespace run → one space, edges
    trimmed); one ``regexp_extract_all`` then captures, at every token
    start, the next n tokens through a zero-width lookahead. Its second
    alternative matches only at position 0 once the first has failed
    there — a text of fewer than n tokens — and captures the whole
    normalised text as the one shingle (``[""]`` for an empty or NULL
    text). One regex, no CASE around it: callers wrap shingles in
    ``transform``, which is interpreted and would evaluate a repeated
    subexpression twice. Output equals joining each run of n
    whitespace-split tokens with single spaces, the form the DuckDB twins
    build with list slices."""
    t = F.trim(F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), WS_PLUS, " "))
    gram = f"[^ ]+(?: [^ ]+){{{n - 1}}}"
    return F.regexp_extract_all(t, F.lit(f"(?<![^ ])(?=({gram}|^(?s:.*)))"), F.lit(1))


def shingle_hashes(text_col: str, n: int = 3) -> F.Column:
    """Each shingle, in order and with repeats, as a 60-bit long: the
    first 15 hex chars of its md5. DuckDB computes the same key as
    ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)``."""
    return F.transform(
        shingles(text_col, n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )


def shingle_keys(text_col: str, n: int = 3) -> F.Column:
    """Distinct shingle keys (``shingle_hashes``, first occurrence kept) as
    ``array<long>`` — the one shingle representation the MinHash signature,
    the Jaccard/containment verifies and the corpus-overlap operators read.

    Keying is equality-preserving in practice: collision odds across a
    pair's union of ~10⁴ shingles are ≈ 1e-11, and a collision moves one
    intersect count by 1. The joins ship fixed 8-byte keys instead of
    shingle strings; measured on a pair-heavy corpus (73 146 candidate
    pairs, local[16]) the verify took 22.8 s on raw strings, 26.4 s on md5
    hex strings and 9.2 s on these longs."""
    return F.array_distinct(shingle_hashes(text_col, n))


def _key_table(df: DataFrame, text_col: str, id_col: str,
               n_shingle: int = 3, extra: tuple[str, ...] = ()) -> DataFrame:
    """(id, *extra, _sk) — each document's distinct shingle keys."""
    return df.select(F.col(id_col), *extra, shingle_keys(text_col, n_shingle).alias("_sk"))


def _survivors(df: DataFrame, keys: DataFrame, dropped: DataFrame, id_col: str,
               collapse_exact: bool) -> DataFrame:
    """The rows of ``df`` that survive a dedup whose key table ``keys`` was
    built from ``df``'s exact-collapsed base: ``df ⋉ (key ids ▷ dropped)``.
    The key table already holds the collapsed ids, so ``df`` is read once
    and the exact collapse is not evaluated again. Without the collapse
    it is ``df ▷ dropped``.

    A repeated id keeps every row it has in ``df`` when it survives, as
    the semi-join of the collapse does. The result differs from
    ``exact_dedup(df) ▷ dropped`` only when one id carries two different
    texts: a row whose text's lowest id is another id is kept here when
    its own id survives through its other text."""
    if not collapse_exact:
        return df.join(dropped, id_col, "left_anti")
    kept = keys.select(id_col).join(dropped, id_col, "left_anti")
    return df.join(kept, id_col, "left_semi")


# MinHash family over a 60-bit shingle key x:
#   h_j(x) = (a_j·x + b_j) mod p,  p = 2^61 − 1,  1 ≤ a_j < p,  0 ≤ b_j < p.
# a·x needs ~121 bits, so it is reduced exactly in 64-bit steps: with
# a = a1·2^31 + a0 and x = x1·2^31 + x0,
#   a·x ≡ 2·a1·x1 + (m >> 30) + (m & (2^30 − 1))·2^31 + a0·x0   (mod p),
# where m = a1·x0 + a0·x1, since 2^61 ≡ 1. Every product is < 2^62 and the
# sum < 2^63, so no step overflows a signed long (Spark's ANSI mode would
# abort the job) or a DuckDB BIGINT. Full-width multipliers matter: a
# no-overflow form with 31-bit multipliers over the key's 30-bit halves
# wraps mod p at most twice, so its h_j order keys almost linearly and the
# k minima correlate — in simulation it missed 30% more J = 0.8 pairs
# than the (1 − (1 − J²)^4) the 4×2 banding promises; this family matches
# it. ``minhash_hash_sql`` is the one text of h_j, read by the signature
# aggregate and by the DuckDB twins.
MINHASH_PRIME = (1 << 61) - 1
MINHASH_SPLIT = 31
MINHASH_COEFFS = (
    (523058302180427487, 1741543744033906142),
    (316501778418769914, 554570041940685189),
    (449408978314474671, 2013524058692908992),
    (1842420402029128830, 2244279285154407619),
    (519663551669967372, 1701398656455481699),
    (1275041656923717829, 381304437056787934),
    (1305981947948977974, 374750465175100789),
    (2160129370991698122, 899788734160730194),
)


def minhash_hash_sql(j: int, x: str) -> str:
    """h_j over a long key expression ``x`` in [0, 2^60), as SQL text that
    Spark and DuckDB both parse and evaluate to the same long (see
    MINHASH_COEFFS)."""
    a, b = MINHASH_COEFFS[j]
    a1, a0 = a >> MINHASH_SPLIT, a & ((1 << MINHASH_SPLIT) - 1)
    x1, x0 = f"({x} >> {MINHASH_SPLIT})", f"({x} & {(1 << MINHASH_SPLIT) - 1})"
    m = f"({a1} * {x0} + {a0} * {x1})"
    s = (f"{2 * a1} * {x1} + ({m} >> 30) + (({m} & {(1 << 30) - 1}) << {MINHASH_SPLIT}) "
         f"+ {a0} * {x0}")
    return f"(({s}) % {MINHASH_PRIME} + {b}) % {MINHASH_PRIME}"


# The signature, bands, pairs and verify are projected from SQL text: a
# plan built Column by Column costs py4j round trips per node, and the k
# hashes alone are hundreds of nodes.

def _signatures(keys: DataFrame, id_col: str, k: int) -> DataFrame:
    if not 1 <= k <= len(MINHASH_COEFFS):
        raise ValueError(f"k must be in [1, {len(MINHASH_COEFFS)}] (got {k})")
    ex = keys.selectExpr(f"`{id_col}`", "explode(_sk) AS _x")
    return ex.groupBy(id_col).agg(
        *[F.expr(f"min({minhash_hash_sql(j, '_x')}) AS h{j}") for j in range(k)]
    )


def _bands(sig: DataFrame, id_col: str, bands: int, rows: int) -> DataFrame:
    # one inline, not a union of per-band selects — a union re-executes
    # the signature aggregate once per band
    structs = ", ".join(
        f"struct({b} AS band_id, array({', '.join(f'h{b * rows + r}' for r in range(rows))})"
        " AS band_key)"
        for b in range(bands)
    )
    return sig.selectExpr(f"`{id_col}`", f"inline(array({structs}))")


def _band_pairs(bandsdf: DataFrame, id_col: str) -> DataFrame:
    left = bandsdf.selectExpr("band_id", "band_key", f"`{id_col}` AS a")
    right = bandsdf.selectExpr("band_id", "band_key", f"`{id_col}` AS b")
    return (
        left.join(right, ["band_id", "band_key"])
        .where("a < b")
        .selectExpr("a", "b")
        .distinct()
    )


def _candidates(keys: DataFrame, id_col: str, max_bucket: int | None) -> DataFrame:
    sig = _signatures(keys, id_col, MINHASH_BANDS * MINHASH_ROWS)
    bandsdf = _bands(sig, id_col, MINHASH_BANDS, MINHASH_ROWS)
    return _band_pairs(cap_band_buckets(bandsdf, id_col, max_bucket), id_col)


def _pair_keys(keys: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """pairs joined to both sides' keys as (a, b, …, _sha, _shb)."""
    a = keys.selectExpr(f"`{id_col}` AS a", "_sk AS _sha")
    b = keys.selectExpr(f"`{id_col}` AS b", "_sk AS _shb")
    return pairs.join(a, "a").join(b, "b")


def _jaccard(keys: DataFrame, pairs: DataFrame, id_col: str,
             threshold: float) -> DataFrame:
    # |A ∪ B| = |A| + |B| − |A ∩ B|, exact because key arrays are
    # distinct; never 0, because a key array is never empty (an empty
    # text shingles to [""]). The intersection is projected once, below
    # the division and the threshold filter that both read it.
    sized = _pair_keys(keys, pairs, id_col).selectExpr(
        "a", "b", "size(array_intersect(_sha, _shb)) AS _i", "size(_sha) + size(_shb) AS _n")
    return (
        sized.selectExpr("a", "b", "_i / (_n - _i) AS jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


def _verified_pairs(keys: DataFrame, id_col: str, threshold: float,
                    max_bucket: int | None) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard, (a, b, jaccard),
    from ONE materialised key table, read by both the signature and the
    verify."""
    return _jaccard(keys, _candidates(keys, id_col, max_bucket), id_col, threshold)


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_shingle: int = 3,
                       k: int = MINHASH_BANDS * MINHASH_ROWS) -> DataFrame:
    """(id, h0..h{k-1}) min-hash signature table: h_j is the minimum of the
    integer hash h_j (MINHASH_COEFFS) over the document's shingle keys.

    Shape: explode(shingle keys) → groupBy(id).agg(k mins). The k hashes
    are long arithmetic inside one whole-stage-codegen hash aggregate with
    map-side partial combine — shuffle rows out = docs, not shingles. (A
    nested transform/array_min formulation is interpreted per element and
    was ~100x slower.)"""
    return _signatures(_key_table(df, text_col, id_col, n_shingle), id_col, k)


def minhash_bands(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n_shingle: int = 3, bands: int = MINHASH_BANDS,
                  rows: int = MINHASH_ROWS) -> DataFrame:
    """(id, band_id, band_key) — one row per band per doc; ``band_key`` is
    the band's ``rows`` min-hashes as ``array<long>``."""
    sig = minhash_signatures(df, text_col, id_col, n_shingle, bands * rows)
    return _bands(sig, id_col, bands, rows)


def minhash_candidate_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_bucket: int | None = None) -> DataFrame:
    """Distinct candidate near-dup pairs (a<b) that collide in ≥1 LSH band.

    The self-join is per (band_id, band_key) bucket — linear in collisions,
    never all-pairs. ``max_bucket`` (opt-in) additionally bounds each
    bucket to its lowest-id members before the join, for template-spam
    clusters whose members are near-identical without being byte-identical
    (see cap_band_buckets — logged, bounded-recall). Returns (a, b)."""
    return _candidates(_key_table(df, text_col, id_col), id_col, max_bucket)


def jaccard_verify(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", threshold: float = 0.7) -> DataFrame:
    """Exact word-shingle Jaccard on candidate pairs; keeps pairs ≥ threshold.
    Returns (a, b, jaccard). Sets are the ``shingle_keys`` longs, so the
    pair join ships fixed 8-byte keys and the DuckDB twin computes the
    identical value."""
    return _jaccard(_key_table(df, text_col, id_col), pairs, id_col, threshold)


def containment_verify(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       threshold: float = 0.8) -> DataFrame:
    """Asymmetric shingle CONTAINMENT on candidate pairs: keeps pairs
    where either direction's containment |Sₐ∩S_b| / |S_x| reaches
    ``threshold``. Returns (a, b, cont_a_in_b, cont_b_in_a).

    Containment is the quote/superset detector Jaccard misses: a short
    doc pasted verbatim inside a long one has J = |A|/|B| ≈ 0 but
    C(A→B) = 1 — the aggregation-page / quote-farm signature, and the
    dedup policy question "is this article already inside that digest?".
    Reads the same ``shingle_keys`` longs as jaccard_verify;
    intersect/size counts are integers divided once, so values are
    oracle-exact.

    Recall caveat (documented, inherent): candidates here come from
    Jaccard-tuned MinHash bands, which under-sample high-containment /
    low-Jaccard pairs with extreme size skew. For a dedicated
    containment search at scale, band the SMALL side's full signature
    against per-size-stratum signatures of the large side."""
    return _containment(_key_table(df, text_col, id_col), pairs, id_col, threshold)


def _containment(keys: DataFrame, pairs: DataFrame, id_col: str,
                 threshold: float) -> DataFrame:
    joined = _pair_keys(keys, pairs, id_col)
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("double")
    ca = F.when(F.size("_sha") > 0, inter / F.size("_sha").cast("double")).otherwise(F.lit(0.0))
    cb = F.when(F.size("_shb") > 0, inter / F.size("_shb").cast("double")).otherwise(F.lit(0.0))
    out = joined.select(
        "a", "b",
        F.round(ca, 6).alias("cont_a_in_b"),
        F.round(cb, 6).alias("cont_b_in_a"),
    )
    return out.filter(
        (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
    )


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.8,
                      max_bucket: int | None = None) -> DataFrame:
    """LSH candidates + containment verify end-to-end; (a, b,
    cont_a_in_b, cont_b_in_a) — see containment_verify for semantics
    and the recall caveat."""
    keys = _key_table(df, text_col, id_col).localCheckpoint(eager=True)
    return _containment(keys, _candidates(keys, id_col, max_bucket), id_col, threshold)


def minhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  threshold: float = 0.7, collapse_exact: bool = True,
                  max_bucket: int | None = None) -> DataFrame:
    """Drop docs that are verified near-duplicates of a lower-id doc.

    Pair-based (not transitive-closure): b is dropped iff some a<b with
    J(a,b) ≥ τ — the standard single-pass web-dedup policy; full connected
    components would need an iterative join (see GraphFrames) and is
    rarely worth it for dedup.

    ``collapse_exact`` (default on) exact-dedups BEFORE the LSH stage: a
    group of byte-identical texts shares every shingle, hence every band
    key, so at web scale (~30% exact dups, Zipf-headed) it forms one hot
    bucket whose candidate-pair count is quadratic in the group size — the
    one skew AQE cannot fix, because the blow-up is in the join OUTPUT.
    Collapsing each group to its min-id representative first is
    value-identical (identical text ⇒ identical shingle set ⇒ identical
    Jaccard to every other doc, and the min-id rep drops exactly the rows
    the pair policy would), removes the quadratic bucket, and skips
    shingling the duplicates. Verified value-identical under 10%-identical
    skew in tests/test_dedup.py. The collapse runs once, into the
    materialised key table, whose ids are then the collapsed base of the
    survivors (see _survivors: a repeated id keeps all its rows, and only
    an id carrying two different texts can differ from
    ``exact_dedup(df) ▷ dropped``).

    ``max_bucket`` opts into bounded LSH buckets for near-identical
    template-spam clusters (see cap_band_buckets)."""
    base = exact_dedup(df, text_col, id_col) if collapse_exact else df
    keys = _key_table(base, text_col, id_col).localCheckpoint(eager=True)
    dups = _verified_pairs(keys, id_col, threshold, max_bucket).selectExpr(f"b AS `{id_col}`")
    return _survivors(df, keys, dups, id_col, collapse_exact)


def levenshtein_refine(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", prefix: int = 200,
                       max_ratio: float = 0.4) -> DataFrame:
    """Edit-distance verify of candidate near-dup pairs (the fuzzy-dedup
    refine for small character-level edits — boilerplate with injected
    dates/ids — that set-based Jaccard over-penalizes).

    Keeps (a, b, lev) where levenshtein(prefix_a, prefix_b) ≤ max_ratio ×
    max(len_a, len_b). Two scale guards: (1) candidates come from LSH
    banding, never all-pairs; (2) the comparison window is a fixed
    ``prefix`` (default 200 chars), bounding per-pair cost at O(prefix²)
    regardless of document length — full-text edit distance on a pair of
    100 KB docs is 10¹⁰ cell updates, a per-pair cost no cluster survives.
    The prefix substring is projected BEFORE the pair join so the shuffle
    ships ≤ prefix chars per side, not whole documents. ``levenshtein`` is
    a JVM built-in on the Spark side and computes the classic
    (unit-cost) distance — identical to DuckDB's, so the values are
    oracle-checkable bit-for-bit."""
    p = F.substring(F.coalesce(F.col(text_col), F.lit("")), 1, prefix)
    t = df.select(F.col(id_col), p.alias("_p"))
    a = t.select(F.col(id_col).alias("a"), F.col("_p").alias("_pa"))
    b = t.select(F.col(id_col).alias("b"), F.col("_p").alias("_pb"))
    joined = pairs.join(a, "a").join(b, "b").select(
        "a", "b",
        F.levenshtein("_pa", "_pb").alias("lev"),
        F.greatest(F.length("_pa"), F.length("_pb")).alias("_mx"),
    )
    keep = joined.filter(
        F.col("lev").cast("double") <= F.lit(max_ratio) * F.col("_mx").cast("double")
    )
    return keep.select("a", "b", "lev")


def levenshtein_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      prefix: int = 200, max_ratio: float = 0.4,
                      max_bucket: int | None = None) -> DataFrame:
    """LSH candidates + edit-distance refine end-to-end; (a, b, lev)."""
    pairs = minhash_candidate_pairs(df, text_col, id_col, max_bucket)
    return levenshtein_refine(df, pairs, text_col, id_col, prefix, max_ratio)


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, threshold: float = 0.5,
                        max_bucket: int | None = None) -> DataFrame:
    """All-pairs n-gram Jaccard via LSH candidates (the scalable route to
    'n-gram Jaccard dedup'); returns (a, b, jaccard)."""
    keys = _key_table(df, text_col, id_col, n).localCheckpoint(eager=True)
    return _verified_pairs(keys, id_col, threshold, max_bucket)


# ------------------------------------------------- connected components

def connected_components(pairs: DataFrame, a_col: str = "a", b_col: str = "b",
                         max_iters: int = 25) -> DataFrame:
    """(node, comp) labels: comp = min doc id reachable through the pair
    graph — the transitive-closure upgrade over pair-based dedup policy.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; converges in O(component
    diameter) rounds (near-dup clusters are shallow — a chain A~B~C is
    diameter 2). Each round is one shuffle join + aggregate; lineage is
    cut per round with localCheckpoint so the plan stays O(1) deep. For
    adversarially long chains the alternating large-star/small-star
    variant (Kiveris et al. 2014) drops rounds to O(log²n); not needed
    for dedup-shaped graphs."""
    e = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    edges = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().localCheckpoint(eager=True)
    labels = edges.select("u").distinct().withColumn("comp", F.col("u"))
    changed = 1
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # ONE job per round: the convergence probe itself materializes the
        # LAZY localCheckpoint (a FULL count — a limit(1) short-circuit
        # would checkpoint only the partitions it touched), and the
        # carried previous label makes the probe a scan, not a join. The
        # earlier eager-checkpoint + probe shape cost two jobs per round;
        # the round-1 shape (probe-side join back to `labels`) cost three.
        new_labels = labels.join(nbr_min, "u", "left").select(
            "u",
            F.col("comp").alias("_old"),
            F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias("comp"),
        ).localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("comp") != F.col("_old")).count()
        labels = new_labels.select("u", "comp")
        if changed == 0:
            break
    if changed != 0:
        import warnings

        warnings.warn(
            f"connected_components: not converged after {max_iters} rounds; "
            "labels may split long chains — raise max_iters or switch to the "
            "large-star/small-star variant",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("u").alias("node"), "comp")


def cc_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             threshold: float = 0.7, collapse_exact: bool = True,
             max_bucket: int | None = None) -> DataFrame:
    """Transitive near-dup dedup: verified MinHash pairs become edges, each
    connected component collapses to its minimum doc id. Unlike the
    pair-based policy (minhash_dedup), a chain A~B~C with J(A,C) < τ still
    collapses to {A} — B links the cluster.

    ``collapse_exact`` pre-collapses byte-identical groups to their min-id
    rep (see minhash_dedup): value-identical here too — an identical
    member has exactly the rep's neighbors, so component connectivity and
    the component-min survivor are unchanged — while removing the
    quadratic hot band bucket AND its quadratic edge set from the CC
    input. The collapse runs once, into the materialised key table, and
    the survivors are read from ``df`` by its ids (see _survivors for a
    repeated id)."""
    base = exact_dedup(df, text_col, id_col) if collapse_exact else df
    keys = _key_table(base, text_col, id_col).localCheckpoint(eager=True)
    pairs = _verified_pairs(keys, id_col, threshold, max_bucket)
    labels = connected_components(pairs.select("a", "b"))
    drop = labels.where("node != comp").selectExpr(f"node AS `{id_col}`")
    return _survivors(df, keys, drop, id_col, collapse_exact)


# ---------------------------------------------------------------- SimHash

# 64-bit fingerprints: the per-token hash is the first 16 md5 hex chars,
# carried as TWO 32-bit halves (bits 0-31 from hex[1:8], bits 32-63 from
# hex[9:16]) because the composed 64-bit value doesn't fit a signed long
# unsigned — each half casts cleanly in any engine (DuckDB:
# CAST('0x'||substr(md5(w),…,8) AS BIGINT)), so the whole construction
# stays oracle-checkable. 4 bands × 16 bits: hamming ≤ 3 ⇒ ≥1 shared band
# (pigeonhole), and each band keys 65 536 buckets. Capacity math: the
# expected candidate-pair output of one band over n docs with uniformly
# spread fingerprints is ~n²/2/2^16 per band — at 10⁸ docs that is ~10¹¹
# pairs/band from RANDOM collisions alone, so at web scale the band key
# must be composed with a pre-partitioning key (language, length bucket)
# or bounded with ``max_bucket``; the earlier 60-bit/4×15-bit layout hit
# the same wall 2× sooner (32 768 buckets/band). Round 1 used 32-bit fp /
# 8-bit bands — only 256 buckets per band.
SIMHASH_BITS = 64
_SIMHASH_LANES = 16          # 4 bit-counters per long at 16-bit offsets
# Counter headroom bound: the top (r=3) counter occupies bits 48-63 of the
# packed long INCLUDING the sign bit, so the lane sum must stay < 2^63.
# With <= 32767 tokens, max packed value = 32767 * (2^48 + 2^32 + 2^16 + 1)
# < 2^63 — safe under ANSI mode (which PySpark 4 enables by default and
# would abort the job with ARITHMETIC_OVERFLOW at 65535).
_SIMHASH_MAX_TOKENS = 32767


def simhash_fingerprints(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, _fp) SimHash fingerprint table (Charikar 2002).

    Each token votes ±1 per bit using bits of its 64-bit md5 hash (two
    32-bit halves — see the capacity note above); the fingerprint sets
    bit i iff the vote sum is positive (ones-count strictly > half the
    tokens). Shaped as explode(words) → ONE hash-aggregate of 16 packed
    lanes — each lane sums 4 bit-counters at 16-bit offsets of one long,
    so the aggregation buffer is 16 longs + a count (the round-1 shape
    needed 32 separate conditional sums for half the fingerprint width).
    Map-side combine keeps shuffle rows = docs. Tokens beyond 32767 are
    ignored (sign-bit headroom on the top packed counter — see
    _SIMHASH_MAX_TOKENS). Bit 63 of the fingerprint lands in the long's
    sign bit (its addend is −2^63, applied LAST so every ANSI-checked
    partial sum stays in range); band extraction masks after the
    arithmetic shift, so sign-fill never leaks into a band key."""
    words = F.slice(
        F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), WS_PLUS),
                 lambda w: F.length(w) > 0),
        1, _SIMHASH_MAX_TOKENS,
    )
    ex = (
        df.select(F.col(id_col), F.explode(words).alias("_w"))
        .withColumn("_md5", F.md5(F.col("_w")))
        .withColumn("_hl", F.conv(F.substring(F.col("_md5"), 1, 8), 16, 10).cast("long"))
        .withColumn("_hh", F.conv(F.substring(F.col("_md5"), 9, 8), 16, 10).cast("long"))
    )
    lanes = []
    for j in range(_SIMHASH_LANES):
        lane = None
        for r in range(4):
            i = 4 * j + r
            src, shift = ("_hl", i) if i < 32 else ("_hh", i - 32)
            bit = F.shiftright(F.col(src), shift).bitwiseAND(F.lit(1))
            term = bit.cast("long") * F.lit(1 << (16 * r)).cast("long")
            lane = term if lane is None else lane + term
        lanes.append(F.sum(lane).alias(f"l{j}"))
    votes = ex.groupBy(id_col).agg(*lanes, F.count("*").alias("_n"))
    fp = None
    for i in range(SIMHASH_BITS):
        j, r = divmod(i, 4)
        c = F.shiftright(F.col(f"l{j}"), 16 * r).bitwiseAND(F.lit(0xFFFF))
        # bit 63's addend is int64 min; added last, partial sums of the
        # lower 63 positive terms max out at 2^63-1 — no ANSI overflow.
        addend = (1 << i) if i < 63 else -(1 << 63)
        term = F.when(c * 2 > F.col("_n"), F.lit(addend).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return votes.select(F.col(id_col), fp.alias("_fp"))


def simhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  max_hamming: int = 3, collapse_exact: bool = True,
                  max_bucket: int | None = None) -> DataFrame:
    """Near-dup dedup on SimHash: candidates via 4-way band blocking
    (docs within hamming distance d ≤ 3 share ≥1 of 4 16-bit bands), then
    exact popcount verify. Keeps the lowest id per near-dup pair.

    ``collapse_exact`` (default on) exact-dedups BEFORE fingerprinting,
    exactly like minhash_dedup/cc_dedup: byte-identical texts have
    identical fingerprints, hence share ALL four bands, so an identical
    group forms one hot bucket whose candidate-pair output is quadratic
    in the group size — the join-OUTPUT blow-up AQE cannot split.
    Value-identical: identical text ⇒ identical fingerprint ⇒ identical
    hamming distance to every other doc, so the min-id rep drops exactly
    the rows the pair policy would (verified under 10%-identical skew in
    tests/test_dedup.py). ``max_bucket`` additionally bounds each band
    bucket for near-identical template clusters (see cap_band_buckets)."""
    base = exact_dedup(df, text_col, id_col) if collapse_exact else df
    fp = simhash_fingerprints(base, text_col, id_col)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("_fp"), b * 16).bitwiseAND(F.lit(0xFFFF)).alias("band_key"),
            )
            for b in range(4)
        ]
    )
    bandsdf = fp.select(F.col(id_col), F.explode(band_structs).alias("_b")).select(
        F.col(id_col), F.col("_b.band_id").alias("band_id"), F.col("_b.band_key").alias("band_key")
    )
    bandsdf = cap_band_buckets(bandsdf, id_col, max_bucket)
    left = bandsdf.select("band_id", "band_key", F.col(id_col).alias("a"))
    right = bandsdf.select("band_id", "band_key", F.col(id_col).alias("b"))
    cand = (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    fa = fp.select(F.col(id_col).alias("a"), F.col("_fp").alias("_fa"))
    fb = fp.select(F.col(id_col).alias("b"), F.col("_fp").alias("_fb"))
    ham = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb")))
    dups = (
        cand.join(fa, "a").join(fb, "b")
        .filter(ham <= max_hamming)
        .select(F.col("b").alias(id_col))
        .distinct()
    )
    return base.join(dups, id_col, "left_anti")


def canonical_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Exact dedup after canonical whitespace/case normalization: keep
    the lowest id among documents whose ``lower(text)`` with every
    whitespace run collapsed to one space (and edges trimmed) is
    byte-identical. Catches the trivially-reformatted copies exact
    dedup misses (re-wrapped lines, CASE-variant mirrors, indentation
    churn) without any near-dup machinery — the cheap first rung of the
    CCNet-style dedup ladder, run before MinHash.

    Same scale shape as ``exact_dedup``: the canonical form is hashed to
    a fixed 32-byte key map-side (the document text itself never ships),
    then one groupBy(md5)+min(id)+left_semi shuffle. The whitespace
    class is the engine-identical 6-char set (functions/tokenize.py), so
    the whole operator is oracle-checkable.
    """
    canon = F.trim(
        F.regexp_replace(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))), WS_PLUS, " "
        )
    )
    return _min_id_per_key(df, F.md5(canon), id_col)


def minhash_index_write(df: DataFrame, path: str, text_col: str = "text",
                        id_col: str = "doc_id", mode: str = "overwrite",
                        n_shingle: int = 3) -> None:
    """Persist the corpus MinHash band table to parquet, hive-partitioned
    by ``band_id``.

    This is the corpus-side half of incremental dedup: at 100 TB you
    LSH the historical corpus ONCE and append each ingested batch's
    bands (``mode="append"``), instead of re-shingling petabytes per
    increment. Partitioning by band_id means a probe that joins on
    (band_id, band_key) prunes to the matching band directories; within
    a band the key's longs are uniform mod 2^61 − 1, so files split
    evenly. The row payload is (doc_id, band_key) — 8 bytes plus
    ``rows`` longs — so the index is ~1/1000th of the corpus bytes.

    An index written before band keys became ``array<long>`` holds md5
    hex strings; :func:`minhash_incremental_dedup` rejects it with a
    type error at plan time (string vs array<bigint> join key) instead
    of joining it silently. An index of ``array<long>`` keys built with
    other ``MINHASH_COEFFS`` has the same type and WOULD join silently,
    matching almost nothing: rebuild the index whenever the family
    changes."""
    minhash_bands(df, text_col, id_col, n_shingle).write.partitionBy(
        "band_id"
    ).mode(mode).parquet(path)


def minhash_incremental_dedup(new_df: DataFrame, corpus_df: DataFrame,
                              index_bands: DataFrame,
                              text_col: str = "text", id_col: str = "doc_id",
                              threshold: float = 0.7,
                              collapse_exact: bool = True,
                              max_bucket: int | None = None) -> DataFrame:
    """Dedup a NEW batch against an already-indexed corpus without
    re-LSHing the corpus — the steady-state shape of web-crawl ingestion
    (the reference re-reads the full hub dataset per run,
    src/data_transformer.py:458-473; here the historical work is a
    persisted band table from :func:`minhash_index_write`).

    Policy (mirrors :func:`minhash_dedup`): a new doc is dropped iff it
    is a verified near-dup (shingle Jaccard ≥ ``threshold``) of ANY
    corpus doc, or of a lower-id doc within its own batch. Exact
    duplicates of corpus docs need no special case: identical text ⇒
    identical signature ⇒ shared bands ⇒ candidate pair with J = 1.

    Scale shape — the whole point is what does NOT get touched:
      * corpus shingling: never re-run; only ``index_bands`` is read,
        and the band join prunes to the new batch's (band_id, band_key)
        set (partition pruning on band_id when the index is read from
        its hive layout).
      * corpus text: read ONLY for candidate ids — a left-semi prune
        before the verify join, so at 100 TB the verify touches the
        handful of colliding corpus rows, not the corpus.
      * new batch: exact-collapsed first (default), then the standard
        band self-join for within-batch pairs; ``max_bucket`` bounds
        template-spam buckets on BOTH the self-join and the index probe
        (see cap_band_buckets).
      * the batch's shingle-key table is materialised once and read by
        its signature and by the verify; cross and within-batch pairs are
        unioned and verified in ONE jaccard pass.

    Corpus and batch ids must be DISJOINT (they are distinct ingests;
    id collisions would conflate verify texts).

    Returns the surviving rows of ``new_df`` (post exact-collapse): the
    batch is read once more, by the ids of its materialised key table, so
    the collapse runs once (see _survivors for a repeated id)."""
    base = exact_dedup(new_df, text_col, id_col) if collapse_exact else new_df
    keys = _key_table(base, text_col, id_col).localCheckpoint(eager=True)
    sig = _signatures(keys, id_col, MINHASH_BANDS * MINHASH_ROWS)
    new_bands = cap_band_buckets(
        _bands(sig, id_col, MINHASH_BANDS, MINHASH_ROWS), id_col, max_bucket
    )
    old_bands = cap_band_buckets(index_bands, id_col, max_bucket)

    # cross candidates: one distinct (old a, new b) per band collision
    probe = new_bands.select("band_id", "band_key", F.col(id_col).alias("b"))
    idx = old_bands.select("band_id", "band_key", F.col(id_col).alias("a"))
    cross = (
        probe.join(idx, ["band_id", "band_key"]).select("a", "b").distinct()
    )
    # within-batch candidates: standard lowest-id-wins band self-join
    within = _band_pairs(new_bands, id_col)
    pairs = cross.unionByName(within).distinct()

    # corpus keys: only the candidate ids are shingled, pruned BEFORE the
    # pair join
    cand_old = corpus_df.join(
        cross.select(F.col("a").alias(id_col)).distinct(), id_col, "left_semi"
    )
    both = _key_table(cand_old, text_col, id_col).unionByName(keys)
    dropped = _jaccard(both, pairs, id_col, threshold).selectExpr(f"b AS `{id_col}`")
    return _survivors(new_df, keys, dropped, id_col, collapse_exact)


def minhash_calibration(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        k: int = MINHASH_BANDS * MINHASH_ROWS) -> DataFrame:
    """Sketch-calibration report: for every LSH candidate pair, the
    MinHash Jaccard ESTIMATE (matching-signature fraction, the
    unbiased estimator the banding geometry is built on) next to the
    EXACT shingle Jaccard. Returns (a, b, n_match, est, jaccard).

    This is the diagnostics query a dedup rollout runs before trusting
    a threshold: if |est − jaccard| drifts, the shingle granularity or
    k is wrong for the corpus (e.g. tiny docs → high-variance
    estimates), and the keep/drop threshold must move. Estimator
    variance is J(1−J)/k by construction — the report makes that
    visible on real pairs instead of asserted.

    Scale: candidates only (never all-pairs); the shingle-key table is
    materialised once and feeds the signature and the exact Jaccard;
    counts are integers divided once."""
    keys = _key_table(df, text_col, id_col).localCheckpoint(eager=True)
    sig = _signatures(keys, id_col, k)
    pairs = _candidates(keys, id_col, None)
    sa = sig.select(F.col(id_col).alias("a"),
                    *[F.col(f"h{j}").alias(f"_a{j}") for j in range(k)])
    sb = sig.select(F.col(id_col).alias("b"),
                    *[F.col(f"h{j}").alias(f"_b{j}") for j in range(k)])
    n_match = None
    for j in range(k):
        term = (F.col(f"_a{j}") == F.col(f"_b{j}")).cast("long")
        n_match = term if n_match is None else n_match + term
    est_tbl = (
        pairs.join(sa, "a").join(sb, "b")
        .select("a", "b", n_match.alias("n_match"))
        .withColumn(
            "est",
            F.round(F.col("n_match").cast("double") / F.lit(float(k)), 6),
        )
    )
    exact = _jaccard(keys, pairs, id_col, threshold=0.0).select(
        "a", "b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )
    return est_tbl.join(exact, ["a", "b"])


def _require_integral_id(df: DataFrame, id_col: str) -> None:
    """The best-member dedups break score ties on the negated id, which
    needs an integral id; raise before any plan runs rather than fail
    with CAST_INVALID_INPUT after the dedup work."""
    dtype = df.schema[id_col].dataType
    if not isinstance(dtype, IntegralType):
        raise TypeError(f"id column {id_col!r} must be an integral type "
                        f"for the lowest-id tie-break, got {dtype.simpleString()}")


def exact_dedup_best(df: DataFrame, score_col: str, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup keeping the BEST-SCORING member of each
    byte-identical cluster (ties → lowest id) — the quality-aware
    upgrade of :func:`exact_dedup`'s min-id policy: identical TEXT can
    carry different metadata (crawl freshness, source reputation, a
    quality score), and the survivor should be the copy worth keeping,
    not the accidental id minimum.

    Scale shape: the argmax is max(struct(score, −id)) — ONE map-side-
    combinable hash aggregate whose per-cluster state is a single
    struct, then a left-semi rejoin. Deliberately NOT a row_number
    window: at web scale an identical-text cluster is the Zipf head
    (one cookie-banner page duplicated 10⁹×), and a window would sort
    that entire cluster in one task, while the struct-max folds it
    map-side. Selection is deterministic: lexicographic (score, −id)
    max ⇒ highest score, ties to the LOWEST id. ``id_col`` must be an
    integral type (the tie-break negates it); any other type raises
    TypeError at call time."""
    _require_integral_id(df, id_col)
    keyed = df.withColumn("_k", _content_key(F.md5(F.col(text_col))))
    reps = keyed.groupBy("_k").agg(
        F.max(F.struct(F.col(score_col).alias("_s"),
                       (-F.col(id_col)).alias("_ni"))).alias("_m")
    ).select("_k", (-F.col("_m._ni")).alias(id_col))
    return keyed.join(reps, ["_k", id_col], "left_semi").drop("_k")


def prefix_filter_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        threshold_num: int = 4,
                        threshold_den: int = 5) -> DataFrame:
    """EXACT token-set similarity join via prefix filtering (the
    PPJoin family, Xiao et al. 2008): every pair of documents whose
    distinct-token Jaccard is >= threshold (default 4/5 = 0.8), with
    GUARANTEED recall 1.0 — the exact complement to MinHash-LSH, whose
    banding misses a tunable fraction of true pairs. Returns
    (a, b, n_shared, jaccard).

    The filter: order the vocabulary by ascending document frequency
    (rarest first); a pair with Jaccard >= t MUST share a token within
    each side's first |s| - ceil(t*|s|) + 1 rarest tokens (pigeonhole
    on the overlap bound), so candidates come from an equi-join on
    PREFIX tokens only — and prefix tokens are by construction the
    RARE ones, so join buckets stay small exactly where a naive
    token join would explode (the stopword bucket never joins).

    Determinism/exactness discipline: the prefix length is pure
    integer arithmetic (s - (num*s + den - 1) DIV den + 1 — float
    s*(1-t) straddles a ULP at integer boundaries); the verify is
    all-integer (c shared tokens, sizes sa/sb; keep iff
    c*den >= num*(sa+sb-c) — an exact rational boundary), and jaccard
    is reported with ONE terminal division. Global-frequency ties
    break by token asc so the vocabulary order is total.

    Scale shape: the vocabulary rank is a window over the VOCAB table
    (not the corpus; ~10^7 rows at web scale — a single sorted task;
    at larger vocabularies replace with a two-level (df-bucket, token)
    composite rank, value-identical for the filter's purpose); per-doc
    rarity ranks ride doc-partitioned windows bounded by doc length;
    the candidate join is equi-keyed on rare tokens; the verify join
    ships token rows for candidate pairs only."""
    if not (0 < threshold_num <= threshold_den):
        raise ValueError(
            f"threshold must be in (0, 1]: {threshold_num}/{threshold_den}")
    words = F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), WS_PLUS),
                     lambda w: F.length(w) > 0)
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(words)).alias("term")
    )
    vocab = tok.groupBy("term").agg(F.count("*").alias("_df"))
    wv = Window.orderBy(F.asc("_df"), F.asc("term"))
    ranks = vocab.select("term", F.row_number().over(wv).alias("_grank"))
    sizes = tok.groupBy(id_col).agg(F.count("*").alias("_s"))
    plen = (
        F.col("_s")
        - F.expr(f"({threshold_num} * _s + {threshold_den - 1}) "
                 f"DIV {threshold_den}")
        + F.lit(1)
    )
    wd = Window.partitionBy(id_col).orderBy("_grank")
    pref = (
        tok.join(ranks, "term")
        .join(sizes, id_col)
        .withColumn("_dr", F.row_number().over(wd))
        .filter(F.col("_dr") <= plen)
        .select(F.col(id_col), F.col("term"), F.col("_s"))
    )
    # PPJoin's SIZE filter rides the candidate join: J(A,B) >= t forces
    # t*|B| <= |A| <= |B|/t, so size-incompatible prefix collisions are
    # dropped BEFORE the distinct/verify (integer cross-multiply — no
    # float boundary). On a template corpus this cut candidates 3x in
    # measurement; on Zipfian corpora more.
    pa = pref.select(F.col("term"), F.col(id_col).alias("a"),
                     F.col("_s").alias("_pa"))
    pb = pref.select(F.col("term"), F.col(id_col).alias("b"),
                     F.col("_s").alias("_pb"))
    cand = (
        pa.join(pb, "term")
        .filter(
            (F.col("a") < F.col("b"))
            & (F.col("_pb") * threshold_den >= F.col("_pa") * threshold_num)
            & (F.col("_pa") * threshold_den >= F.col("_pb") * threshold_num)
        )
        .select("a", "b")
        .distinct()
    )
    ta = tok.select(F.col(id_col).alias("a"), "term")
    tb = tok.select(F.col(id_col).alias("b"), "term")
    shared = (
        cand.join(ta, "a").join(tb, ["b", "term"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("_s").alias("_sa"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("_s").alias("_sb"))
    keep = (
        shared.join(sa, "a").join(sb, "b")
        .filter(
            F.col("n_shared") * threshold_den
            >= F.lit(threshold_num) * (F.col("_sa") + F.col("_sb") - F.col("n_shared"))
        )
    )
    return keep.select(
        "a", "b", "n_shared",
        F.round(
            F.col("n_shared").cast("double")
            / (F.col("_sa") + F.col("_sb") - F.col("n_shared")).cast("double"),
            6,
        ).alias("jaccard"),
    )


# ------------------------------------------- content-defined chunking

def cdc_chunks(text_col: str, mask_bits: int = 4,
               salt: str = "cdc") -> F.Column:
    """Array of CONTENT-DEFINED chunks of a document: the token stream
    splits after every token whose 32-bit md5 hash is ≡ 0 mod
    2^mask_bits (expected chunk length 2^mask_bits tokens). This is the
    Rabin/FastCDC boundary rule at token granularity — the property
    fixed-length spans lack is SHIFT RESISTANCE: inserting one
    token early in a doc shifts every fixed-span boundary after it, but
    content-defined boundaries re-synchronize at the next boundary
    token, so all later chunks hash identically again. That is what
    makes chunk-grain dedup work on near-identical pages with small
    head edits (cookie notices, injected dates).

    Pure-expression construction, O(tokens) per doc and map-only: the
    boundary POSITIONS are one indexed transform+filter, chunk (start,
    end) ranges are a zip of the shifted boundary list, and each chunk
    is one slice+concat — no per-element array rebuilding (an
    aggregate() fold that appends to an accumulator array would copy
    the accumulator per boundary, O(tokens²/2^mask_bits))."""
    if mask_bits < 1:
        raise ValueError(f"mask_bits must be >= 1, got {mask_bits}")
    mod = 1 << mask_bits
    words = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), WS_PLUS),
        lambda w: F.length(w) > 0,
    )

    def is_boundary(w):
        h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{salt}:"), w)), 1, 8),
                   16, 10).cast("long")
        return h % mod == 0

    # 1-based positions of boundary tokens (Spark transform index is
    # 0-based; the DuckDB twin's lambda index is 1-based — hence i+1).
    bpos = F.filter(
        F.transform(words,
                    lambda w, i: F.when(is_boundary(w), i + 1).otherwise(F.lit(-1))),
        lambda p: p > 0,
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(bpos, lambda p: p + 1))
    ends = F.concat(bpos, F.array(F.size(words)))
    return F.filter(
        F.zip_with(
            starts, ends,
            lambda s, e: F.when(
                s <= e, F.concat_ws(" ", F.slice(words, s, e - s + 1))
            ),
        ),
        lambda c: c.isNotNull(),
    )


def cdc_chunk_census(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", mask_bits: int = 4) -> DataFrame:
    """Per-document chunk-grain duplication census over content-defined
    chunks: (doc_id, n_chunks, n_dup_chunks, dup_frac), where a chunk
    is "dup" iff its text occurs in at least one OTHER document (or
    more than once overall). The chunk-level complement to exact/
    near-dup dedup — it measures how much of each page is boilerplate
    shared with the rest of the corpus, robust to small edits because
    the chunking is content-defined (see cdc_chunks).

    Scale shape: chunks are built map-side (O(tokens) pure exprs), the
    census is explode (rows ≈ tokens/2^mask_bits) → ONE md5-keyed
    aggregate counting occurrences and distinct docs — map-side
    combinable; a universal chunk (cookie banner) is one hot reduce key
    whose partial counts fold before the exchange, never a blown-up
    join output. The rejoin back to chunks is at (hash) grain with
    output = input rows."""
    ch = df.select(
        F.col(id_col),
        F.explode(cdc_chunks(text_col, mask_bits)).alias("_c"),
    ).select(F.col(id_col), F.md5(F.col("_c")).alias("_h"))
    census = ch.groupBy("_h").agg(
        F.count("*").alias("_n_occ"),
        F.count_distinct(id_col).alias("_n_docs"),
    )
    flagged = ch.join(census, "_h").groupBy(id_col).agg(
        F.count("*").alias("n_chunks"),
        F.sum(
            F.when((F.col("_n_docs") > 1) | (F.col("_n_occ") > 1), 1).otherwise(0)
        ).alias("n_dup_chunks"),
    )
    return df.select(F.col(id_col)).join(flagged, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_chunks"), F.lit(0)).alias("n_chunks"),
        F.coalesce(F.col("n_dup_chunks"), F.lit(0)).alias("n_dup_chunks"),
        F.round(
            F.coalesce(F.col("n_dup_chunks"), F.lit(0)).cast("double")
            / F.greatest(F.coalesce(F.col("n_chunks"), F.lit(0)), F.lit(1)).cast("double"),
            6,
        ).alias("dup_frac"),
    )


def cc_dedup_best(df: DataFrame, score_col: str, text_col: str = "text",
                  id_col: str = "doc_id", threshold: float = 0.7,
                  collapse_exact: bool = True,
                  max_bucket: int | None = None) -> DataFrame:
    """Transitive near-dup dedup keeping the BEST-SCORING member of each
    connected component (ties → lowest id) — the quality-aware upgrade
    of :func:`cc_dedup`'s min-id survivor, mirroring what
    :func:`exact_dedup_best` does for byte-identical clusters: in a
    near-dup cluster the copies differ (truncated mirrors, ad-injected
    variants), and the survivor should be the longest / highest-quality
    copy, not the accidental id minimum.

    Survivor selection is max(struct(score, −id)) per component — ONE
    map-side-combinable aggregate (never a per-component window; the
    Zipf-head cluster would sort in a single task). The exact-collapse
    pre-step uses :func:`exact_dedup_best` (NOT min-id exact_dedup):
    each byte-identical group keeps its best-scoring member, so the
    component argmax over collapsed reps equals the argmax over the
    full component — the group maximum is always still present, and
    identical texts always land in the same component (J = 1 edges).
    Value-identity is pinned in tests; the DuckDB twin computes the
    argmax over the UNCOLLAPSED component, so the oracle check itself
    verifies the equivalence. ``id_col`` must be an integral type (the
    tie-break negates it); any other type raises TypeError at call
    time.

    The collapse runs once, into the materialised key table, which
    carries the score; the survivors are ``df ⋉ best ids``. A repeated id
    keeps all its rows, and only an id carrying two different texts can
    differ from ``exact_dedup_best(df) ⋉ best ids`` (see _survivors)."""
    _require_integral_id(df, id_col)
    base = (
        exact_dedup_best(df, score_col, text_col, id_col)
        if collapse_exact else df
    )
    keys = _key_table(base, text_col, id_col, extra=(score_col,)).localCheckpoint(eager=True)
    pairs = _verified_pairs(keys, id_col, threshold, max_bucket)
    labels = connected_components(pairs.select("a", "b"))
    lab = (
        keys.select(F.col(id_col), F.col(score_col))
        .join(labels.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col), F.col(score_col),
            F.coalesce(F.col("comp"), F.col(id_col)).alias("comp"),
        )
    )
    best = lab.groupBy("comp").agg(
        F.max(F.struct(F.col(score_col).alias("_s"),
                       (-F.col(id_col)).alias("_ni"))).alias("_m")
    ).select((-F.col("_m._ni")).alias(id_col))
    return df.join(best, id_col, "left_semi")


def cc_incremental(old_labels: DataFrame, new_pairs: DataFrame,
                   max_iters: int = 25) -> DataFrame:
    """Incrementally maintain connected-component labels when NEW edges
    arrive — the steady-state shape of a persisted dedup-cluster table
    under continuous ingestion (full CC over a 100 TB corpus per batch
    is the thing you never want to redo). ``old_labels`` is a prior
    (node, comp) table; ``new_pairs`` the batch's verified (a, b)
    edges. Returns the updated (node, comp) covering every node seen.

    Correctness shape: a component's labels form a STAR (every node →
    its min id), so the old state is equivalent to its label edges
    (node, comp); union those stars with the new edges and re-run
    min-label propagation. Stars re-converge in O(1) rounds unless new
    edges actually bridge components, and propagation cost is bounded
    by the AFFECTED subgraph's diameter — untouched components pass
    through as fixed points (their min never changes). The ≡-to-full-
    recompute guarantee is pinned by the oracle query, whose twin
    computes CC over the ENTIRE corpus from scratch."""
    star = old_labels.select(F.col("node").alias("a"),
                             F.col("comp").alias("b"))
    edges = star.unionByName(new_pairs.select("a", "b"))
    labels = connected_components(edges, max_iters=max_iters)
    # nodes can be isolated in old_labels (comp == node, no other member):
    # connected_components keeps them (self-edge from the star), so the
    # union covers every previously-seen node plus both ends of new pairs.
    return labels
