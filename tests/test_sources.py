"""Source connectors: field mapping, deterministic sampling, union, sinks."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xdan_dqa_spark.sources.readers import (
    SourceConfig,
    apply_field_mapping,
    deterministic_sample,
    read_many,
    read_source,
)
from xdan_dqa_spark.sources.sinks import output_name, write_keep_drop, write_scored


@pytest.fixture(scope="module")
def webtext_parquet(spark, webtext, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("src") / "webtext.parquet")
    webtext.drop("_kind", "html").withColumn("html", F.lit(None).cast("binary")).select(
        "url", "warc_ts", "html", "text", "lang"
    ).write.parquet(p)
    return p


def test_field_mapping_renames(spark):
    df = spark.createDataFrame([("u", "body", "extra")], "page_url string, content string, x string")
    out = apply_field_mapping(df, {"url": "page_url", "text": "content"})
    assert out.columns == ["url", "text", "x"]
    row = out.collect()[0]
    assert row["url"] == "u" and row["text"] == "body"


def test_field_mapping_absorbs_metadata(spark):
    """Open-map absorption (reference src/data_loader.py:116-125): with
    absorb_metadata=True the unmapped source columns fold into ONE
    map<string,string> column, sorted-key order, values stringified."""
    df = spark.createDataFrame(
        [("u1", "body", "alpaca", 7), ("u2", "other", "oasst", None)],
        "page_url string, content string, origin string, rank int",
    )
    out = apply_field_mapping(df, {"url": "page_url", "text": "content"},
                              absorb_metadata=True)
    assert out.columns == ["url", "text", "metadata"]
    assert dict(out.dtypes)["metadata"] == "map<string,string>"
    rows = {r["url"]: r for r in out.collect()}
    assert rows["u1"]["metadata"] == {"origin": "alpaca", "rank": "7"}
    assert rows["u2"]["metadata"] == {"origin": "oasst", "rank": None}


def test_field_mapping_empty_mapping_still_absorbs(spark):
    """absorb_metadata=True with NO renames folds every column into the
    metadata map (the early no-mapping fast path must not swallow it)."""
    df = spark.createDataFrame([("a", 1)], "x string, y int")
    out = apply_field_mapping(df, {}, absorb_metadata=True)
    assert out.columns == ["metadata"]
    assert out.collect()[0]["metadata"] == {"x": "a", "y": "1"}


def test_metadata_roundtrip_through_publish_table(spark):
    """The absorbed map survives a publish_table create→read cycle and
    JSON-encodes like the reference's published metadata dict."""
    from xdan_dqa_spark.sources.readers import metadata_to_json
    from xdan_dqa_spark.sources.sinks import publish_table

    df = spark.createDataFrame(
        [("u1", "t1", "cc", 3)], "page_url string, content string, src string, n int"
    )
    mapped = apply_field_mapping(df, {"url": "page_url", "text": "content"},
                                 absorb_metadata=True)
    try:
        publish_table(mapped, "meta_rt_tbl")
        back = spark.table("meta_rt_tbl")
        row = back.select("url", "metadata",
                          metadata_to_json().alias("mj")).collect()[0]
        assert row["metadata"] == {"n": "3", "src": "cc"}
        assert row["mj"] == '{"n":"3","src":"cc"}'
    finally:
        spark.sql("DROP TABLE IF EXISTS meta_rt_tbl")


def test_field_mapping_missing_source_raises(spark):
    df = spark.createDataFrame([("u",)], "a string")
    with pytest.raises(ValueError, match="not in input"):
        apply_field_mapping(df, {"url": "nope"})


def test_deterministic_sample_stable_across_partitioning(spark, webtext):
    base = webtext.select("url", "text")
    s1 = {r["url"] for r in deterministic_sample(base, 50).collect()}
    s2 = {r["url"] for r in deterministic_sample(base.repartition(13), 50).collect()}
    assert s1 == s2 and len(s1) == 50


def test_read_source_enforces_schema(spark, webtext_parquet):
    df = read_source(spark, SourceConfig(path=webtext_parquet), enforce_webtext=True)
    assert [f.name for f in df.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    assert df.count() == 800


def test_read_many_union_and_sample(spark, webtext_parquet):
    cfgs = [
        SourceConfig(path=webtext_parquet, num_samples=30),
        SourceConfig(path=webtext_parquet, num_samples=20),
    ]
    df = read_many(spark, cfgs)
    assert df.count() == 50  # 30 + 20 (same rows may repeat across sources)


def test_write_keep_drop_lanes(spark, scored, tmp_path):
    out = str(tmp_path / "lanes")
    sc = scored.select("url", "keep", "score").cache()
    write_keep_drop(sc, out)
    keep = spark.read.parquet(f"{out}/keep")
    drop = spark.read.parquet(f"{out}/drop")
    assert keep.filter(~F.col("keep")).count() == 0
    assert drop.filter(F.col("keep")).count() == 0
    assert keep.count() + drop.count() == sc.count()


def test_write_scored_partitioned_segments(spark, scored, tmp_path):
    out = str(tmp_path / "seg")
    write_scored(scored.select("url", "pred_lang", "score"), out,
                 partition_by=("pred_lang",))
    langs = {d.split("=")[1] for d in os.listdir(out) if d.startswith("pred_lang=")}
    assert "en" in langs and len(langs) >= 3
    assert spark.read.parquet(out).count() == scored.count()


def test_output_name_parts():
    assert output_name("assess", "cc/web 01", 42) == "assess_cc-web-01_42"
    assert output_name("t", "d", 1, ts=0.0) == "t_d_1_19700101_000000"


def test_publish_table_create_then_append(spark, scored):
    from xdan_dqa_spark.sources.sinks import publish_table

    small = scored.select("doc_id", "pred_lang", "score", "keep").limit(50)
    try:
        name = publish_table(small, "pub_test_tbl")
        assert name == "pub_test_tbl"
        n1 = spark.table(name).count()
        publish_table(small, "pub_test_tbl")          # append
        assert spark.table(name).count() == 2 * n1
        # checkpoint variant publishes to a suffixed table
        cname = publish_table(small, "pub_test_tbl", checkpoint_variant=3)
        assert cname == "pub_test_tbl_checkpoint_3"
        assert spark.table("pub_test_tbl_checkpoint_3").count() == n1
    finally:
        spark.sql("DROP TABLE IF EXISTS pub_test_tbl")
        spark.sql("DROP TABLE IF EXISTS pub_test_tbl_checkpoint_3")


def test_partition_roundtrip_numeric_looking_values(spark, tmp_path):
    """Read-back of a hive-partitioned sink must use the writer's schema:
    partition type inference would turn a numeric-looking partition value
    ('123') into an int column and break the identity roundtrip
    (q_sink_roundtrip reads with an explicit schema for this reason)."""
    df = spark.createDataFrame(
        [(1, "a", "123"), (2, "b", "007"), (3, "c", "src")],
        "doc_id long, text string, source string",
    )
    out = str(tmp_path / "seg")
    write_scored(df, out, fmt="parquet", partition_by=("source",))
    back = spark.read.schema(df.schema).parquet(out)
    assert dict(back.dtypes)["source"] == "string"
    got = sorted((r.doc_id, r.source) for r in back.collect())
    # '007' survives byte-identically; inference would read it back as 7
    assert got == [(1, "123"), (2, "007"), (3, "src")]


def test_s8_output_naming_matches_python_convention(spark):
    """The distributed S8 naming query (one output name per source
    partition) must agree with the driver-side output_name() convention
    on every fixture source — ties the oracle-paired column expression
    to the Python function sinks actually use."""
    from xdan_dqa_spark.plans.entry_queries import q_s8_output_naming
    from xdan_dqa_spark.sources.sinks import output_name

    rows = q_s8_output_naming(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["output_name"] == output_name(
            "assessment", r["source"], r["n_rows"]
        )


def test_stratified_hash_sample_deterministic_and_rated(spark):
    import hashlib

    from xdan_dqa_spark.sources.readers import stratified_hash_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    picked = stratified_hash_sample(
        docs, key_col="doc_id", strata_col="lang", pct={"en": 0}, default_pct=100
    )
    langs = {r["lang"] for r in picked.select("lang").distinct().collect()}
    assert "en" not in langs and langs          # en fully dropped, rest fully kept

    # the bucket is md5-derived: recompute one row's membership in python
    sample = stratified_hash_sample(docs, pct=None, default_pct=37)
    ids = {r["doc_id"] for r in sample.select("doc_id").collect()}
    for r in docs.select("doc_id").limit(50).collect():
        bucket = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:15], 16) % 100
        assert (r["doc_id"] in ids) == (bucket < 37)

    # stable across cluster layouts
    again = stratified_hash_sample(docs.repartition(13), pct=None, default_pct=37)
    assert {r["doc_id"] for r in again.select("doc_id").collect()} == ids


def test_a15_zscore_outliers_hand_computed(spark, tmp_path):
    import math

    from xdan_dqa_spark.plans.entry_queries import q_a15_zscore_outliers

    # lang 'en': nine docs at 100 chars, one at 1000 — the 1000 is the
    # only |z| > 2 outlier; lang 'fr' is uniform → no outliers.
    rows = [(i, "t", "en", "s", 100) for i in range(9)] + [(9, "t", "en", "s", 1000)]
    rows += [(10 + i, "t", "fr", "s", 50 + i) for i in range(5)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = q_a15_zscore_outliers(spark, str(tmp_path)).collect()
    assert [(r["doc_id"], r["lang"], r["n_chars"]) for r in got] == [(9, "en", 1000)]
    n, sx, sx2 = 10, 9 * 100 + 1000, 9 * 100**2 + 1000**2
    mean = sx / n
    var = (sx2 - sx * sx / n) / (n - 1)
    assert got[0]["z"] == round((1000 - mean) / math.sqrt(var), 9)


def test_cc_cluster_histogram_identical_pair_plus_singletons(spark, tmp_path):
    from xdan_dqa_spark.plans.entry_queries import q_cc_cluster_histogram

    long_a = " ".join(f"tok{i}" for i in range(40))
    rows = [
        (1, long_a, "en", "s", len(long_a)),
        (2, long_a, "en", "s", len(long_a)),                # J(1,2)=1 → cluster
        (3, " ".join(f"other{i}" for i in range(40)), "en", "s", 10),
        (4, "completely different words here entirely", "en", "s", 10),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {r["cluster_size"]: (r["n_clusters"], r["n_docs"])
           for r in q_cc_cluster_histogram(spark, str(tmp_path)).collect()}
    assert got == {2: (1, 2), 1: (2, 2)}


def test_gopher_stats_hand_computed(spark, tmp_path):
    from xdan_dqa_spark.plans.entry_queries import q_gopher_stats

    rows = [
        # 4 words, 14 non-ws chars, one @ symbol, dup line 'foo' (3 lines,
        # 1 dup), all words alphabetic
        (1, "foo bar\nfoo\n@ok x", "en", "s", 0),
        (2, "", "en", "s", 0),                       # empty → zero ratios
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: r.asDict() for r in q_gopher_stats(spark, str(tmp_path)).collect()}
    r = got[1]
    # tokens: foo bar foo @ok x → 5 words; non-ws chars = 13
    assert r["n_words"] == 5
    assert r["mean_word_len"] == round(13 / 5, 9)
    assert r["symbol_ratio"] == round(1 / 5, 9)
    # lines after trim-split: foo bar / foo / @ok x → no dups (line1 != line2)
    assert r["dup_line_frac"] == 0.0
    # '@ok' contains a letter → 5/5 alpha
    assert r["alpha_ratio"] == 1.0
    assert r["distinct_word_ratio"] == round(4 / 5, 9)
    assert got[2]["n_words"] == 0 and got[2]["mean_word_len"] == 0.0


def test_a20_log2_hist_bucket_edges(spark, tmp_path):
    from xdan_dqa_spark.plans.entry_queries import q_a20_length_log2_hist

    # n_chars 1→bucket 1, 2,3→2, 4..7→3, 1024→11 (exact power of two —
    # the case where floor(log2) would be ULP-fragile)
    rows = [(i, "t", "en", "s", n) for i, n in
            enumerate([1, 2, 3, 4, 7, 1024])]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["log2_bucket"]: (r["n_docs"], r["min_chars"], r["max_chars"])
           for r in q_a20_length_log2_hist(spark, str(tmp_path)).collect()}
    assert got == {1: (1, 1, 1), 2: (2, 2, 3), 3: (2, 4, 7), 11: (1, 1024, 1024)}
