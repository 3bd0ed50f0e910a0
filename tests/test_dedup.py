"""Dedup operators: exact, word-set, MinHash-LSH, SimHash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from xdan_dqa_spark.operators.dedup import (
    exact_dedup,
    jaccard_verify,
    minhash_candidate_pairs,
    minhash_dedup,
    simhash_dedup,
    wordset_dedup,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),   # exact dup of 1
    (3, "today the quick brown fox jumps over the lazy dog near the river bank"),   # rotation (near-dup)
    (4, "a completely different document about spark query engines and shuffles"),
    (5, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),  # 1-word change
    (6, "unrelated short text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(docs):
    kept = sorted(r[0] for r in exact_dedup(docs).select("doc_id").collect())
    assert kept == [1, 3, 4, 5, 6]  # 2 collapses into 1


def test_exact_collapses_keep_one_null_text_like_their_twins(spark):
    """NULL texts are one group of their own, as GROUP BY md5(text) makes
    them in the SQL_DEDUP_EXACT twin: its lowest id survives, and an
    empty text is a different group. Word-set dedup, like its twin, puts
    a NULL text with the empty one."""
    import duckdb

    from xdan_dqa_spark.plans.entry_queries import SQL_DEDUP_EXACT, SQL_DEDUP_WORDSET

    rows = [(1, None), (2, None), (3, "a"), (4, "a"), (5, ""), (6, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    exact = sorted(map(tuple, exact_dedup(df).select(
        "doc_id", F.md5("text").alias("text_md5")).collect()))
    assert exact == sorted(con.execute(SQL_DEDUP_EXACT).fetchall())
    assert [i for i, _ in exact] == [1, 3, 5]
    wordset = sorted(r[0] for r in wordset_dedup(df).select("doc_id").collect())
    assert wordset == sorted(r[0] for r in con.execute(SQL_DEDUP_WORDSET).fetchall())
    assert wordset == [1, 3]


def test_wordset_dedup(docs):
    kept = sorted(r[0] for r in wordset_dedup(docs).select("doc_id").collect())
    # 2 (exact) and 3 (reordering, same word multiset→set) collapse into 1
    assert kept == [1, 4, 5, 6]


def test_wordset_dedup_whitespace_variants(spark):
    """\\s+ tokenization: a tab/newline-separated duplicate of a
    space-separated doc shares the word-set signature (matches the
    shingle/SimHash tokenizer — VERDICT r3 consistency item)."""
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha\tbeta\ngamma  delta"),   # tabs/newlines/double space
        (3, "alpha beta gamma"),            # genuinely different set
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r[0] for r in wordset_dedup(df).select("doc_id").collect())
    assert kept == [1, 3]


def test_vertical_tab_tokenizes_identically_in_both_engines(spark):
    """Java \\s includes \\x0B (vertical tab); RE2 — DuckDB's engine —
    does NOT. Both sides spell the explicit 6-char class instead
    (functions/tokenize.py), so a \\x0B-separated duplicate collapses in
    Spark AND the oracle twin tokenizes it the same way. A bare '\\s+'
    in the twin would regress the DuckDB side of this test to 1 token."""
    import duckdb

    from xdan_dqa_spark.plans.entry_queries import _WORDS_WS_SQL

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha\x0Bbeta\tgamma")],
        "doc_id long, text string",
    )
    kept = sorted(r[0] for r in wordset_dedup(df).select("doc_id").collect())
    assert kept == [1]
    n = duckdb.sql(
        f"SELECT len({_WORDS_WS_SQL}) FROM "
        "(SELECT 'alpha' || chr(11) || 'beta' || chr(9) || 'gamma' AS text)"
    ).fetchone()[0]
    assert n == 3


def test_minhash_candidates_contain_near_dups(docs):
    pairs = {(r["a"], r["b"]) for r in minhash_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs           # identical docs always collide
    assert (1, 3) in pairs or (1, 5) in pairs  # near-dups collide w.h.p.


def test_jaccard_verify_scores(docs):
    pairs = minhash_candidate_pairs(docs)
    verified = {(r["a"], r["b"]): r["jaccard"] for r in
                jaccard_verify(docs, pairs, threshold=0.5).collect()}
    assert verified.get((1, 2)) == 1.0
    for (a, b), j in verified.items():
        assert j >= 0.5


def test_minhash_dedup_drops_near_dups(docs):
    kept = sorted(r[0] for r in minhash_dedup(docs, threshold=0.5).select("doc_id").collect())
    assert 1 in kept and 4 in kept and 6 in kept
    assert 2 not in kept             # exact dup dropped
    assert len(kept) <= 4            # at least 3 and/or 5 also dropped


def test_simhash_dedup(docs):
    kept = sorted(r[0] for r in simhash_dedup(docs, max_hamming=3).select("doc_id").collect())
    assert 2 not in kept             # identical fingerprint
    assert 1 in kept and 4 in kept and 6 in kept


def test_simhash_band_recall_vs_explicit_hamming(spark):
    """4×16-bit band blocking must find EVERY pair at hamming ≤ 3
    (pigeonhole: 3 flipped bits touch at most 3 of the 4 bands). The
    fingerprint is a SIGNED 64-bit long (bit 63 rides the sign bit), so
    hamming is popcount over the two's-complement xor masked to 64 bits."""
    from itertools import combinations

    from xdan_dqa_spark.operators.dedup import simhash_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fps = {r["doc_id"]: r["_fp"] for r in simhash_fingerprints(docs).collect()}
    mask64 = (1 << 64) - 1
    explicit = {
        (a, b)
        for a, b in combinations(sorted(fps), 2)
        if bin((fps[a] ^ fps[b]) & mask64).count("1") <= 3
    }
    # candidates via the same banding simhash_dedup uses
    bands = {}
    for i, fp in fps.items():
        for b in range(4):
            bands.setdefault((b, (fp >> (16 * b)) & 0xFFFF), []).append(i)
    cand = {
        (a, b)
        for ids in bands.values()
        for a, b in combinations(sorted(ids), 2)
    }
    assert explicit, "fixture should contain at least one near-dup pair"
    assert explicit <= cand, f"missed pairs: {explicit - cand}"


def test_simhash_giant_doc_no_ansi_overflow(spark):
    """Regression: a 40k-token doc used to abort the whole job with
    SparkArithmeticException ARITHMETIC_OVERFLOW under PySpark 4's
    default ANSI mode — the r=3 counter occupies bits 48-63 of the
    packed lane INCLUDING the sign bit, so the token cap must keep the
    lane sum < 2^63 (hence _SIMHASH_MAX_TOKENS = 32767, not 65535)."""
    from xdan_dqa_spark.operators.dedup import (
        _SIMHASH_MAX_TOKENS,
        simhash_fingerprints,
    )

    assert _SIMHASH_MAX_TOKENS * ((1 << 48) + (1 << 32) + (1 << 16) + 1) < 2**63
    giant = "lorem " * 40_000          # one token repeated: every set bit of
    df = spark.createDataFrame(        # its hash votes in ALL capped tokens
        [(1, giant), (2, "short doc")], "doc_id long, text string"
    )
    fps = {r["doc_id"]: r["_fp"] for r in simhash_fingerprints(df).collect()}
    assert set(fps) == {1, 2}
    # single repeated token ⇒ fp equals the token's 64-bit hash pattern:
    # bits 0-31 from md5 hex[0:8], bits 32-63 from hex[8:16], as a SIGNED
    # long (bit 63 rides the sign bit) — pins the two-half bit layout.
    import hashlib

    h = hashlib.md5(b"lorem").hexdigest()
    expected = (int(h[8:16], 16) << 32) | int(h[:8], 16)
    if expected >= 1 << 63:
        expected -= 1 << 64
    assert fps[1] == expected
    assert -(1 << 63) <= fps[2] < 1 << 63


def test_connected_components_chain(spark):
    """A~B~C collapses to one representative even when A and C are not
    directly connected (the pair-based policy's known gap)."""
    from xdan_dqa_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "a long, b long",
    )
    labels = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                      20: 20, 21: 20, 22: 20, 23: 20}


def test_cc_dedup_transitive_cluster(spark):
    from xdan_dqa_spark.operators.dedup import cc_dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [
            (1, base + " one two three four"),
            (2, base + " one two three five"),   # near-dup of 1
            (3, base + " one two six five"),     # near-dup of 2, farther from 1
            (9, "a completely different document about spark query engines"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r[0] for r in cc_dedup(docs, threshold=0.6).select("doc_id").collect())
    assert kept == [1, 9]


def test_minhash_hot_bucket_skew(spark):
    """Adversarial duplication skew: 10% of the corpus is ONE identical
    text. Identical docs share every band key, so without mitigation the
    band self-join's output is quadratic in the group size — the skew AQE
    cannot fix (the blow-up is join OUTPUT, not partition imbalance).

    Asserts (a) the default collapse_exact path never materializes the
    quadratic bucket (candidate pairs stay linear-ish in docs), (b) its
    survivors are IDENTICAL to the uncollapsed policy's — the
    value-identity claim in the docstring, checked under skew."""
    import time

    base_rows = [
        (i, " ".join(f"w{(i * 997 + j * 131) % 99991}" for j in range(20)))
        for i in range(1800)
    ]  # disjoint-ish token streams: genuinely distinct docs
    hot = [(10_000 + i, "the exact same viral boilerplate page text "
                        "repeated across mirrors everywhere") for i in range(200)]
    docs = spark.createDataFrame(base_rows + hot, "doc_id long, text string").cache()
    docs.count()

    # (a) collapsed path: the 200-strong identical group contributes ZERO
    # candidate pairs (one rep survives exact_dedup); pair count is bounded.
    collapsed = exact_dedup(docs)
    n_pairs = minhash_candidate_pairs(collapsed).count()
    assert n_pairs < 2000, f"candidate pairs {n_pairs} — hot bucket leaked"
    # uncollapsed lower bound for contrast: the hot group alone is C(200,2)
    assert 200 * 199 // 2 > 2000 * 9

    # (b) value identity under skew, both policies
    t0 = time.time()
    fast = {r[0] for r in minhash_dedup(docs, threshold=0.7).select("doc_id").collect()}
    fast_wall = time.time() - t0
    slow = {r[0] for r in minhash_dedup(docs, threshold=0.7,
                                        collapse_exact=False).select("doc_id").collect()}
    assert fast == slow
    assert 10_000 in fast and not any(i in fast for i in range(10_001, 10_200))
    assert fast_wall < 120, f"collapsed dedup took {fast_wall:.0f}s under skew"


def test_simhash_hot_group_value_identity(spark):
    """SimHash twin of test_minhash_hot_bucket_skew: 10% of the corpus is
    ONE identical text (identical fingerprint ⇒ shares ALL four bands ⇒
    quadratic candidate bucket without mitigation). Asserts the default
    collapse_exact survivors are IDENTICAL to the uncollapsed policy's —
    the value-identity claim in the docstring, checked under skew."""
    base_rows = [
        (i, " ".join(f"w{(i * 997 + j * 131) % 99991}" for j in range(20)))
        for i in range(900)
    ]
    hot = [(10_000 + i, "the exact same viral boilerplate page text "
                        "repeated across mirrors everywhere") for i in range(100)]
    docs = spark.createDataFrame(base_rows + hot, "doc_id long, text string").cache()
    docs.count()
    fast = {r[0] for r in simhash_dedup(docs).select("doc_id").collect()}
    slow = {r[0] for r in simhash_dedup(docs, collapse_exact=False)
            .select("doc_id").collect()}
    assert fast == slow
    assert 10_000 in fast and not any(i in fast for i in range(10_001, 10_100))


def _template_spam(spark, k: int = 240):
    """K near-identical-but-NOT-byte-identical boilerplate pages: shared
    30-token template + one varying trailing token, so exact-collapse
    keeps all K yet they share most shingles (hence band keys)."""
    template = " ".join(f"tok{j}" for j in range(30))
    rows = [(i, f"{template} page{i}") for i in range(k)]
    df = spark.createDataFrame(rows, "doc_id long, text string").cache()
    df.count()
    return df


def test_bucket_cap_bounds_template_spam(spark):
    """Opt-in max_bucket bounds the candidate output of a near-identical
    template cluster: every (band_id, band_key) bucket emits at most
    C(max_bucket, 2) pairs, so total candidates are bounded regardless of
    cluster size K (uncapped they are ~K² — exact-collapse can't help
    because no two docs are byte-identical)."""
    docs = _template_spam(spark, k=240)
    uncapped = minhash_candidate_pairs(docs).count()
    assert uncapped > 20_000  # the quadratic blow-up is real: ~C(240,2)/band

    cap = 20
    capped_pairs = minhash_candidate_pairs(docs, max_bucket=cap)
    n = capped_pairs.count()
    # 4 bands × (#buckets in this corpus is tiny — the cluster shares
    # keys) × C(cap,2); generous slack for stray non-cluster buckets
    assert n <= 4 * cap * (cap - 1) // 2 + 200, f"cap leaked: {n} pairs"
    # deterministic membership: lowest ids are the kept representatives
    kept_ids = {x for r in capped_pairs.collect() for x in (r["a"], r["b"])}
    assert min(kept_ids) == 0 and max(kept_ids) < cap + 5


def test_bucket_cap_above_corpus_is_value_identical(docs):
    """A cap larger than any bucket changes nothing — pairs, jaccard
    values, and dedup survivors are identical to the uncapped path (the
    oracle queries run uncapped; this pins that max_bucket=BIG ≡ None)."""
    uncapped = {(r["a"], r["b"]) for r in minhash_candidate_pairs(docs).collect()}
    capped = {(r["a"], r["b"])
              for r in minhash_candidate_pairs(docs, max_bucket=10_000).collect()}
    assert uncapped == capped
    kept_u = {r[0] for r in minhash_dedup(docs, threshold=0.5).select("doc_id").collect()}
    kept_c = {r[0] for r in minhash_dedup(docs, threshold=0.5, max_bucket=10_000)
              .select("doc_id").collect()}
    assert kept_u == kept_c


def test_bucket_cap_rejects_degenerate_cap(docs):
    with pytest.raises(ValueError):
        minhash_candidate_pairs(docs, max_bucket=1).count()


def test_minhash_scales_on_documents_table(spark):
    """Runs on the driver-provided documents table without blowup."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_candidate_pairs(docs, "text", "doc_id")
    n = pairs.count()
    total = docs.count()
    assert n < total * total / 4     # nowhere near all-pairs


# ------------------------------------------------------ levenshtein refine

def test_levenshtein_refine_values_and_threshold(spark):
    from xdan_dqa_spark.operators.dedup import levenshtein_refine

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fax"),
         (3, "totally different text here")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    got = {(r["a"], r["b"]): r["lev"]
           for r in levenshtein_refine(docs, pairs, max_ratio=0.4).collect()}
    # fox→fax is one substitution; the unrelated pair exceeds 0.4×len
    assert got == {(1, 2): 1}


def test_levenshtein_refine_prefix_bounds_cost(spark):
    """Divergence past the prefix window is invisible — the refine is
    O(prefix²) per pair by construction, not O(doc²)."""
    from xdan_dqa_spark.operators.dedup import levenshtein_refine

    head = "x" * 200
    docs = spark.createDataFrame(
        [(1, head + "AAAA" * 500), (2, head + "ZZZZ" * 500)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    rows = levenshtein_refine(docs, pairs, prefix=200).collect()
    assert len(rows) == 1 and rows[0]["lev"] == 0


def test_levenshtein_pairs_end_to_end_near_dup(spark):
    """LSH banding must surface a near-identical pair, and the refine must
    keep it with the exact edit distance."""
    from xdan_dqa_spark.operators.dedup import levenshtein_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, base), (2, base.replace("iota", "iotb")),
         (3, "completely unrelated words about other topics entirely now")],
        "doc_id long, text string",
    )
    got = {(r["a"], r["b"]): r["lev"] for r in levenshtein_pairs(docs).collect()}
    assert got.get((1, 2)) == 1 and (1, 3) not in got and (2, 3) not in got


def test_canonical_dedup_collapses_case_and_whitespace_variants(spark):
    from xdan_dqa_spark.operators.dedup import canonical_dedup, exact_dedup

    docs = spark.createDataFrame(
        [
            (1, "Hello World how are you"),
            (2, "hello   world\thow are\nyou"),   # ws/case variant of 1
            (3, "  HELLO WORLD HOW ARE YOU  "),   # edge-ws/case variant of 1
            (4, "a different document entirely"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in canonical_dedup(docs).collect())
    # min-id survivor per canonical group
    assert kept == [1, 4]
    # exact dedup keeps all four (no byte-identical pair) — canonical is
    # strictly stronger on reformatted copies.
    assert sorted(r["doc_id"] for r in exact_dedup(docs).collect()) == [1, 2, 3, 4]


def test_minhash_incremental_matches_union_dedup(spark, tmp_path):
    """Incremental dedup against a persisted band index must agree with
    one-shot minhash_dedup over corpus ∪ batch when corpus ids are all
    lower than batch ids (then lowest-id-wins makes the two policies
    identical on the batch slice): survivors(batch) == kept(union) ∩ batch.
    Also pins the index layout: hive-partitioned by band_id."""
    import os

    from xdan_dqa_spark.operators.dedup import (
        minhash_dedup,
        minhash_incremental_dedup,
        minhash_index_write,
    )

    corpus = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(DOCS[:4], start=1)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (101, DOCS[0][1]),      # exact dup of corpus 1 → dropped
            (102, DOCS[4][1]),      # near-dup of corpus 1 → dropped at 0.5
            (103, "a brand new never seen document about lakes and rivers"),
            (104, "a brand new never seen document about lakes and rivers"),  # within-batch exact dup
            (105, DOCS[5][1]),      # dup of corpus 6? corpus only has 4 rows → unique here
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_index")
    minhash_index_write(corpus, path)
    assert any(d.startswith("band_id=") for d in os.listdir(path))

    idx = spark.read.parquet(path)
    kept_incr = sorted(
        r[0]
        for r in minhash_incremental_dedup(batch, corpus, idx, threshold=0.5)
        .select("doc_id")
        .collect()
    )
    union_kept = {
        r[0]
        for r in minhash_dedup(
            corpus.unionByName(batch), threshold=0.5
        ).select("doc_id").collect()
    }
    assert kept_incr == sorted(k for k in union_kept if k > 100)
    assert 101 not in kept_incr and 102 not in kept_incr
    assert 103 in kept_incr and 104 not in kept_incr and 105 in kept_incr


def test_minhash_incremental_prunes_corpus_text_reads(spark, tmp_path):
    """The corpus text side of the verify join must be candidate-pruned:
    a batch with NO band collisions against the corpus yields zero cross
    candidates, so the verify never touches corpus text — every batch
    row survives, and appending a second ingest to the index
    (mode='append') makes its docs visible to the next batch."""
    from xdan_dqa_spark.operators.dedup import (
        minhash_incremental_dedup,
        minhash_index_write,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    batch1 = spark.createDataFrame(
        [(201, "totally disjoint words about marine biology and coral reefs")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mh_index2")
    minhash_index_write(corpus, path)
    idx = spark.read.parquet(path)
    kept1 = minhash_incremental_dedup(batch1, corpus, idx, threshold=0.5)
    assert [r[0] for r in kept1.select("doc_id").collect()] == [201]

    # append batch1 to the index; a batch-2 copy of doc 201 now drops
    minhash_index_write(batch1, path, mode="append")
    idx2 = spark.read.parquet(path)
    all_corpus = corpus.unionByName(batch1)
    batch2 = spark.createDataFrame(
        [(301, "totally disjoint words about marine biology and coral reefs"),
         (302, "yet another fresh unique row about alpine glacier meltwater")],
        "doc_id long, text string",
    )
    kept2 = sorted(
        r[0]
        for r in minhash_incremental_dedup(batch2, all_corpus, idx2, threshold=0.5)
        .select("doc_id")
        .collect()
    )
    assert kept2 == [302]


def test_containment_verify_detects_subset_doc(spark):
    """A's shingles all inside B -> cont_a_in_b = 1.0 even though the
    Jaccard is only 0.5 (the quote/superset case Jaccard misses)."""
    from xdan_dqa_spark.operators.dedup import containment_verify

    a_text = "a b c d e f g h"            # 6 trigram shingles
    b_text = a_text + " i j k l m n"      # 12 shingles, superset of A's
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    got = containment_verify(df, pairs, threshold=0.8).collect()
    assert len(got) == 1
    r = got[0]
    assert r["cont_a_in_b"] == 1.0
    assert r["cont_b_in_a"] == 0.5


def test_containment_pairs_end_to_end_via_lsh(spark):
    """Near-identical docs collide in >=1 MinHash band, and the shorter
    one is fully contained in the longer."""
    from xdan_dqa_spark.operators.dedup import containment_pairs

    base = " ".join(f"tok{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra words")],
        "doc_id long, text string",
    )
    got = containment_pairs(df, threshold=0.9).collect()
    assert len(got) == 1
    assert got[0]["cont_a_in_b"] == 1.0


def test_minhash_calibration_exact_duplicates_estimate_one(spark):
    """Byte-identical docs: all 8 signature slots match (est = 1.0) and
    the exact Jaccard is 1.0 — the estimator's fixed point."""
    from xdan_dqa_spark.operators.dedup import minhash_calibration

    text = " ".join(f"w{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    got = minhash_calibration(df).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_match"], r["est"], r["jaccard"]) == (8, 1.0, 1.0)


def test_minhash_calibration_estimate_tracks_jaccard(spark):
    """Near-dup pair: the matching-slot fraction must be a plausible
    estimate of the exact Jaccard (within the k=8 estimator's
    granularity, i.e. a couple of slots)."""
    from xdan_dqa_spark.operators.dedup import minhash_calibration

    base = " ".join(f"tok{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, base + " tail words here")],
        "doc_id long, text string",
    )
    got = minhash_calibration(df).collect()
    assert len(got) == 1
    r = got[0]
    assert 0.5 <= r["jaccard"] < 1.0
    assert abs(r["est"] - r["jaccard"]) <= 3 / 8  # J(1-J)/8 variance scale


def test_exact_dedup_best_keeps_top_scoring_copy(spark):
    from xdan_dqa_spark.operators.dedup import exact_dedup_best

    df = spark.createDataFrame(
        [(1, "same text", 0.2), (2, "same text", 0.9), (3, "same text", 0.9),
         (4, "other", 0.1)],
        "doc_id long, text string, score double",
    )
    got = sorted(r["doc_id"] for r in exact_dedup_best(df, "score").collect())
    # highest score wins; tie between 2 and 3 goes to the LOWEST id
    assert got == [2, 4]


# ------------------------------------------- content-defined chunking

def _py_cdc_chunks(text: str, mask_bits: int = 4) -> list[str]:
    """Pure-python reference of the CDC boundary rule."""
    import hashlib

    words = [w for w in __import__("re").split(r"[ \t\n\x0b\f\r]+", text) if w]
    chunks, buf = [], []
    for w in words:
        buf.append(w)
        h = int(hashlib.md5(f"cdc:{w}".encode()).hexdigest()[:8], 16)
        if h % (1 << mask_bits) == 0:
            chunks.append(" ".join(buf))
            buf = []
    if buf:
        chunks.append(" ".join(buf))
    return chunks


def test_cdc_chunks_match_python_reference(spark):
    from xdan_dqa_spark.operators.dedup import cdc_chunks

    texts = [
        " ".join(f"tok{(i * 7) % 97}" for i in range(200)),
        "one two three",
        "",
        "   \t\n  ",
        "single",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["c"]
           for r in df.select("doc_id", cdc_chunks("text").alias("c")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _py_cdc_chunks(t), f"doc {i}"


def test_cdc_shift_resistance_vs_fixed_spans(spark):
    """Insert one token at the head of a 400-token doc: content-defined
    boundaries re-synchronize at the first boundary token, so almost
    all chunks still hash identically — the property fixed spans lack
    (every span boundary shifts by one)."""
    from xdan_dqa_spark.operators.dedup import cdc_chunks

    base = " ".join(f"w{(i * 13) % 211}" for i in range(400))
    shifted = "INSERTED " + base
    df = spark.createDataFrame([(0, base), (1, shifted)],
                               "doc_id long, text string")
    rows = {r["doc_id"]: set(r["c"])
            for r in df.select("doc_id", cdc_chunks("text").alias("c")).collect()}
    shared = len(rows[0] & rows[1])
    assert shared >= 0.8 * len(rows[0])


def test_cdc_census_counts_within_and_cross_doc_dups(spark):
    from xdan_dqa_spark.operators.dedup import cdc_chunk_census

    # doc 0 and doc 1 identical -> every chunk is a cross-doc dup;
    # doc 2 unrelated -> zero dups.
    t = " ".join(f"z{(i * 11) % 53}" for i in range(120))
    u = " ".join(f"q{i}" for i in range(120))   # unique tokens: no
    # within-doc chunk repeats (a modular generator cycles and repeats
    # chunks inside one doc, which the census correctly counts as dup)
    df = spark.createDataFrame([(0, t), (1, t), (2, u)],
                               "doc_id long, text string")
    got = {r["doc_id"]: (r["n_chunks"], r["n_dup_chunks"])
           for r in cdc_chunk_census(df).collect()}
    assert got[0][0] > 0 and got[0] == got[1]
    assert got[0][1] == got[0][0]          # all chunks duplicated
    assert got[2][1] == 0


def test_cc_dedup_best_keeps_highest_score(spark):
    """Near-dup chain A~B~C: the component survivor is the best-SCORING
    member, not the min id; unrelated docs survive untouched."""
    from xdan_dqa_spark.operators.dedup import cc_dedup_best

    base = " ".join(f"w{i}" for i in range(60))
    rows = [
        (1, base + " tail1", 10),
        (2, base + " tail2", 99),          # best of the cluster
        (3, base + " tail3", 50),
        (7, " ".join(f"z{i}" for i in range(60)), 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, score long")
    kept = sorted(r["doc_id"] for r in cc_dedup_best(df, "score").collect())
    assert kept == [2, 7]


def test_cc_dedup_best_collapse_value_identity(spark):
    """10% byte-identical skew: survivors with collapse_exact on and
    off are identical — the exact-collapse-BEST pre-step keeps each
    identical group's argmax, which is always the component argmax
    candidate."""
    from xdan_dqa_spark.operators.dedup import cc_dedup_best

    rows = []
    for i in range(80):
        txt = (" ".join(f"t{i}_{j}" for j in range(40))
               if i % 10 else "the same exact duplicated text " * 8)
        rows.append((i, txt, (i * 37) % 101))
    df = spark.createDataFrame(rows, "doc_id long, text string, score long")
    a = sorted(r["doc_id"]
               for r in cc_dedup_best(df, "score", collapse_exact=True).collect())
    b = sorted(r["doc_id"]
               for r in cc_dedup_best(df, "score", collapse_exact=False).collect())
    assert a == b and len(a) > 0



@pytest.mark.parametrize("fn", ["exact_dedup_best", "cc_dedup_best"])
def test_best_dedup_rejects_non_integral_id_at_call_time(spark, fn):
    """The lowest-id tie-break negates the id: a string id must raise
    TypeError when the plan is built, not fail once an action runs."""
    from xdan_dqa_spark.operators import dedup

    df = spark.createDataFrame([("a", "same text", 1), ("b", "same text", 1)],
                               "doc_id string, text string, score long")
    with pytest.raises(TypeError, match="doc_id.*string"):
        getattr(dedup, fn)(df, "score")

def test_cc_incremental_bridges_and_fixed_points(spark):
    """New edges that BRIDGE two old components merge them to the
    global min label; untouched components pass through unchanged; new
    nodes join existing components; a batch with no relevant edges is
    a fixed point."""
    from xdan_dqa_spark.operators.dedup import cc_incremental

    old = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (11, 10), (50, 50)],
        "node long, comp long",
    )
    new_pairs = spark.createDataFrame(
        [(2, 10),      # bridges comp 1 and comp 10
         (11, 99)],    # attaches a brand-new node
        "a long, b long",
    )
    got = {r["node"]: r["comp"] for r in cc_incremental(old, new_pairs).collect()}
    assert got == {1: 1, 2: 1, 10: 1, 11: 1, 99: 1, 50: 50}

    empty = spark.createDataFrame([], "a long, b long")
    again = {r["node"]: r["comp"]
             for r in cc_incremental(
                 spark.createDataFrame(list(got.items()), "node long, comp long"),
                 empty).collect()}
    assert again == got


SHINGLE_TEXTS = [
    (1, None),
    (2, ""),
    (3, " \t\r\n "),
    (4, "one"),
    (5, "one two"),
    (6, "one two three"),
    (7, "  lead and trail  "),
    (8, "tab\tsep\x0bvt\x0cff\r\ncrlf"),
    (9, "runs   of \t\t blanks\n\n\nhere now"),
    (10, "nb\xa0sp inside a\xa0token stays one token"),
    (11, "a b c d e f g h i"),
    (12, "line\u2028sep and\x85nel are not whitespace"),
    (13, "x y"),
]


def _ref_shingles(text, n):
    import re

    words = [w for w in re.split(r"[ \t\n\x0B\f\r]+", text or "") if w]
    if len(words) < n:
        return [" ".join(words)]
    return [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]


@pytest.mark.parametrize("n", [2, 3, 5])
def test_shingles_match_reference_forms(spark, n):
    """The regex shingles() equals " ".join(words[i:i+n]) over the
    explicit 6-char whitespace split (U+00A0 is not whitespace), with
    the whole text as the one shingle below n tokens and [""] for
    NULL/blank text; for n=3 it also equals the DuckDB twin."""
    import duckdb

    from xdan_dqa_spark.operators.dedup import shingles
    from xdan_dqa_spark.plans.entry_queries import _SHINGLES_SQL

    df = spark.createDataFrame(SHINGLE_TEXTS, "doc_id long, text string")
    got = {r[0]: r[1] for r in df.select("doc_id", shingles("text", n)).collect()}
    assert got == {i: _ref_shingles(t, n) for i, t in SHINGLE_TEXTS}
    if n == 3:
        con = duckdb.connect()
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", SHINGLE_TEXTS)
        duck = dict(con.execute(f"SELECT doc_id, {_SHINGLES_SQL} FROM documents").fetchall())
        assert duck == got


def test_ngram_jaccard_pairs_honours_n(spark):
    """ngram_jaccard_pairs(n=...) shingles at n, for both the LSH
    candidates and the verify: one edited token in 60 distinct words
    moves n of the n-grams, so the pair's Jaccard differs at n=2 and n=5
    and equals the set Jaccard of " ".join(words[i:i+n]) at each."""
    from xdan_dqa_spark.operators.dedup import ngram_jaccard_pairs

    a = " ".join(f"w{i}" for i in range(60))
    b = a.replace("w30", "edited")
    docs = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    want = {}
    for n in (2, 5):
        sa, sb = set(_ref_shingles(a, n)), set(_ref_shingles(b, n))
        want[n] = len(sa & sb) / len(sa | sb)
        got = [(r["a"], r["b"], r["jaccard"])
               for r in ngram_jaccard_pairs(docs, n=n, threshold=0.5).collect()]
        assert got == [(1, 2, want[n])]
    assert want[2] != want[5]


def test_minhash_hash_family_is_exact(spark):
    """Every h_j, its one SQL text evaluated by Spark with ANSI on
    (overflow would abort) and by DuckDB, equals Python integer
    arithmetic at the key-range edges."""
    import duckdb

    from xdan_dqa_spark.operators.dedup import MINHASH_COEFFS, minhash_hash_sql

    xs = [0, 1, (1 << 30) - 1, 1 << 30, (1 << 31) - 1, 1 << 31, (1 << 60) - 1]
    want = [[(a * x + b) % ((1 << 61) - 1) for a, b in MINHASH_COEFFS] for x in xs]
    ks = range(len(MINHASH_COEFFS))
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x long")
        rows = df.orderBy("i").selectExpr(*[minhash_hash_sql(j, "x") for j in ks]).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert [list(r) for r in rows] == want
    cols = ", ".join(minhash_hash_sql(j, "x") for j in ks)
    values = ", ".join(f"({i}, {x}::BIGINT)" for i, x in enumerate(xs))
    duck = duckdb.sql(f"SELECT {cols} FROM (VALUES {values}) t(i, x) ORDER BY i").fetchall()
    assert [list(r) for r in duck] == want


def test_minhash_rejects_md5_string_band_index(spark, tmp_path):
    """An index whose band_key is an md5 hex string (the pre-integer
    layout) fails analysis on the join key type; it is never joined."""
    from pyspark.errors import AnalysisException

    from xdan_dqa_spark.operators.dedup import minhash_incremental_dedup

    corpus = spark.createDataFrame(DOCS[:4], "doc_id long, text string")
    batch = spark.createDataFrame([(101, DOCS[0][1])], "doc_id long, text string")
    old = spark.createDataFrame([(1, 0, "0" * 32)], "doc_id long, band_id int, band_key string")
    with pytest.raises(AnalysisException, match="(?i)type"):
        minhash_incremental_dedup(batch, corpus, old).collect()


# ------------------------------- survivors read by the key table's ids

# DOCS plus a second row, with the same text, for a dropped id (2) and for
# a kept id (4): a repeated id survives with all its rows, or with none.
REPEATED_IDS = DOCS + [(2, DOCS[1][1]), (4, DOCS[3][1])]
IDENTITY_CASES = [(DOCS, True), (DOCS, False), (REPEATED_IDS, True)]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _parent_survivors(df, collapse_exact, policy, score_col=None):
    """The survivors as ``exact_dedup(df) ▷ dropped`` (the best-member
    form for cc_best), with the pairs, components and argmax computed
    from the public operators and Python, not from the dedups under
    test."""
    from xdan_dqa_spark.operators.dedup import (
        connected_components,
        exact_dedup_best,
        ngram_jaccard_pairs,
    )

    if not collapse_exact:
        base = df
    elif score_col:
        base = exact_dedup_best(df, score_col)
    else:
        base = exact_dedup(df)
    pairs = ngram_jaccard_pairs(base, threshold=0.5)
    if policy == "pair":
        return base.join(pairs.select(F.col("b").alias("doc_id")), "doc_id", "left_anti")
    comp = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    if policy == "component":
        return base.filter(~F.col("doc_id").isin([n for n, c in comp.items() if n != c]))
    best = {}
    for r in base.select("doc_id", score_col).collect():
        c = comp.get(r["doc_id"], r["doc_id"])
        best[c] = max(best.get(c, (r[score_col], -r["doc_id"])), (r[score_col], -r["doc_id"]))
    return base.filter(F.col("doc_id").isin([-ni for _, ni in best.values()]))


@pytest.mark.parametrize("rows, collapse_exact", IDENTITY_CASES)
def test_dedups_equal_parent_survivor_formula(spark, rows, collapse_exact):
    """minhash_dedup, cc_dedup and cc_dedup_best read their survivors from
    the input by the ids of the materialised key table; the rows equal the
    collapsed base minus the dropped ids, repeated ids included."""
    from xdan_dqa_spark.operators.dedup import cc_dedup, cc_dedup_best

    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "score", F.length("text"))
    got = {
        "pair": minhash_dedup(df, threshold=0.5, collapse_exact=collapse_exact),
        "component": cc_dedup(df, threshold=0.5, collapse_exact=collapse_exact),
        "best": cc_dedup_best(df, "score", threshold=0.5, collapse_exact=collapse_exact),
    }
    for policy, kept in got.items():
        want = _parent_survivors(df, collapse_exact, policy,
                                 "score" if policy == "best" else None)
        assert _rows(kept) == _rows(want), policy
    if rows is REPEATED_IDS:
        assert [r[0] for r in _rows(got["pair"])].count(4) == 2


@pytest.mark.parametrize("rows, collapse_exact", IDENTITY_CASES)
def test_incremental_dedup_equals_parent_survivor_formula(spark, rows, collapse_exact):
    """minhash_incremental_dedup's survivors equal its collapsed batch
    minus the dropped ids, taken from one-shot minhash_dedup over corpus ∪
    batch (equal policies while corpus ids are the lower ones)."""
    from xdan_dqa_spark.operators.dedup import (
        minhash_bands,
        minhash_incremental_dedup,
    )

    corpus = spark.createDataFrame([(i + 1000, t) for i, (_, t) in enumerate(DOCS[3:])],
                                   "doc_id long, text string")
    # batch ids above the corpus ids
    batch = spark.createDataFrame([(i + 2000, t) for i, t in rows], "doc_id long, text string")
    kept = minhash_incremental_dedup(batch, corpus, minhash_bands(corpus), threshold=0.5,
                                     collapse_exact=collapse_exact)
    union_kept = minhash_dedup(corpus.unionByName(batch), threshold=0.5,
                               collapse_exact=collapse_exact).select("doc_id")
    base = exact_dedup(batch) if collapse_exact else batch
    assert _rows(kept) == _rows(base.join(union_kept, "doc_id", "left_semi"))


def test_minhash_dedup_build_round_trips(spark, docs, monkeypatch):
    """Building minhash_dedup's plan (its key-table checkpoint included)
    takes few py4j round trips: the hash, signature, bands, pairs and
    verify are SQL text. The Column-built plan took ~3.2k; the text build
    measured ~490."""
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    minhash_dedup(docs)
    monkeypatch.undo()
    assert 0 < len(calls) <= 1000
