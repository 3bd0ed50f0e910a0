"""The flagship plan's shape and build cost: one evaluation of the fused
UDF, no regex subtree re-inlined across the materialised columns, and a
plan built from SQL text in a few hundred py4j round trips."""

from __future__ import annotations

import pytest

# Textual counts in the executed plan of score_webtext(fixture). A level
# collapsed into its consumer re-inlines a regex/array subtree 2-3x and
# raises these; the column-API build before the SQL-text one had the same
# 21/5/2 (and two ArrowEvalPython).
REGEX_CALLS = 21   # 17 regexp_count (as size(regexp_extract_all(…))) + 4 regexp_replace
SPLIT_CALLS = 5    # the token array once, the line array in dup_line_frac 4x
LOWER_CALLS = 2    # the lowered text once, the tokens in distinct_word_ratio once
# The SQL-text build measured 146-234 round trips (py4j also sends one
# when a freed Python proxy releases its JVM object, so garbage collection
# moves the count a little); the column-API build took ~5.2k. The bound
# leaves room for small pipeline edits, not for a return to node-by-node
# Column construction.
MAX_BUILD_ROUND_TRIPS = 300


@pytest.fixture()
def full_plan_strings(spark):
    # Untruncated operator field lists, so every expression is counted.
    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "100000")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def test_score_webtext_plan_shape(spark, webtext, full_plan_strings):
    from xdan_dqa_spark.pipeline import score_webtext

    # The crawl columns only: the session's `scored` fixture caches
    # score_webtext(webtext), and a cache hit would show that relation.
    raw = webtext.select("url", "warc_ts", "html", "lang")
    plan = score_webtext(raw)._jdf.queryExecution().executedPlan().toString()
    # The P1 filter on the extracted text must not be pushed below the
    # UDF's projection (that evaluated extract+langid+ppl twice per row).
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("regexp_") == REGEX_CALLS
    assert plan.count("split(") == SPLIT_CALLS
    assert plan.count("lower(") == LOWER_CALLS


def test_score_webtext_build_round_trips(spark, webtext, monkeypatch):
    """A deterministic count of JVM round trips, not a timing."""
    from xdan_dqa_spark.pipeline import score_webtext

    client = spark.sparkContext._gateway._gateway_client
    calls = []
    send = client.send_command

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    score_webtext(webtext)
    monkeypatch.undo()
    assert 0 < len(calls) <= MAX_BUILD_ROUND_TRIPS
