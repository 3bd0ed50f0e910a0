"""The flagship plan's shape and build cost: one evaluation of the fused
UDF, no regex subtree re-inlined across the materialised columns, and a
plan built from SQL text in a few hundred py4j round trips."""

from __future__ import annotations

# Textual counts in the executed plan of score_webtext(fixture). A level
# collapsed into its consumer re-inlines a regex/array subtree 2-3x and
# raises these. A subtree written more than once inside ONE projection and
# outside any CASE branch is evaluated once per row there (codegen's
# common-subexpression elimination), and a guard's CASE runs one branch.
# regexp_count prints as size(regexp_extract_all(…)).
REGEX_CALLS = 34   # heuristics 5: stopword, symbol, alpha, CJK (in cjk_ratio and
#                    n_cjk, evaluated once); category 16: the marker extraction in
#                    each of the 8 scores (evaluated once) + 8 counts over its short
#                    match list; scrub 8 regexp_replace: email 4, ssn 2, phone 1,
#                    profanity 1 (a guard's CASE holds the chain below it in both
#                    branches); 2 mask counts in scrub_count; the \S+ count of
#                    output_tokens in token_info's 3 fields (evaluated once)
SPLIT_CALLS = 4    # the token array once, the line array in dup_line_frac 3x
#                    (two sizes and array_distinct, evaluated once)
LOWER_CALLS = 2    # the lowered text once, the tokens in distinct_word_ratio once
# The SQL-text build measured 146-234 round trips (py4j also sends one
# when a freed Python proxy releases its JVM object, so garbage collection
# moves the count a little); the column-API build took ~5.2k. The bound
# leaves room for small pipeline edits, not for a return to node-by-node
# Column construction.
MAX_BUILD_ROUND_TRIPS = 300


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
