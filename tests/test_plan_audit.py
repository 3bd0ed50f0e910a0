"""Plan-shape audits: the optimizations the engine RELIES on at scale
must be visible in the executed plan, not assumed — filter/IsNotNull
pushdown into the parquet scan, column pruning (ReadSchema), map-side
aggregates without windows, and whole-stage codegen on the hot scoring
path."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_p1_filter_pushdown_and_column_pruning(spark):
    from xdan_dqa_spark.plans.entry_queries import q_p1_validation_filter

    plan = _plan(q_p1_validation_filter(spark, SF))
    # IsNotNull(text) reaches the parquet reader as a pushed filter...
    assert "PushedFilters: [IsNotNull(text)" in plan
    # ...and the scan reads only the referenced columns, never the
    # full 5-column row (text is required by the residual filter).
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "n_chars" in read and "doc_id" in read
    for absent in ("embedding",):
        assert absent not in read


def test_a3_aggregate_scan_prunes_to_grouping_columns(spark):
    from xdan_dqa_spark.plans.entry_queries import QUERIES

    plan = _plan(QUERIES["a3_source_distribution"](spark, SF))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read  # a count/agg over source must not read text


def test_score_core_stays_in_wholestage_codegen(spark):
    from xdan_dqa_spark.plans.entry_queries import QUERIES

    plan = _plan(QUERIES["score_core"](spark, SF))
    # executedPlan().toString() marks codegen'd stages with a "*(n)"
    # prefix (the literal "WholeStageCodegen" only appears in the
    # formatted explain); the whole scoring tree must carry it.
    assert plan.lstrip().startswith("*(")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_a24_min_by_is_single_aggregate_no_window(spark):
    from xdan_dqa_spark.plans.entry_queries import q_a24_first_last_event

    plan = _plan(q_a24_first_last_event(spark, SF))
    # min_by/max_by endpoints must compile to ONE partial+final
    # aggregate pair (map-side combined), never the row_number-window +
    # filter shape, and only a single shuffle on user_id.
    assert "Window" not in plan
    assert plan.count("Exchange") == 1


def test_a39_salted_agg_shape_and_value_identity(spark):
    """The salted hot-key aggregate must (a) materialize as TWO
    aggregate levels — a (key, salt)-grain partial pair then a
    key-grain fold, i.e. exactly two Exchanges, the first keyed on the
    salt — and (b) stay value-identical to a plain one-stage GROUP BY
    on a Zipf-headed input (90% of rows on one key), which is the whole
    point of the decimal cast-sum leaf."""
    import pyspark.sql.functions as F

    from xdan_dqa_spark.plans.entry_queries import q_a39_salted_hot_agg

    plan = _plan(q_a39_salted_hot_agg(spark, SF))
    assert plan.count("Exchange") == 2
    assert "_salt" in plan.split("Exchange")[1]

    rows = [(i, "hot" if i % 10 else "cold", float(i) / 7.0)
            for i in range(2000)]
    e = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    salted = e.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.sum(F.col("value").cast("decimal(20,6)")).alias("_psum"),
        F.count("*").alias("_pcnt"),
    )
    two_stage = {
        r["event_type"]: (r["total"], r["n"])
        for r in partial.groupBy("event_type").agg(
            F.sum("_psum").cast("double").alias("total"),
            F.sum("_pcnt").alias("n"),
        ).collect()
    }
    one_stage = {
        r["event_type"]: (r["total"], r["n"])
        for r in e.groupBy("event_type").agg(
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("total"),
            F.count("*").alias("n"),
        ).collect()
    }
    assert two_stage == one_stage  # bit-for-bit, not approx


def test_flesch_is_map_only_single_exchange_no_window(spark):
    from xdan_dqa_spark.plans.entry_queries import QUERIES

    plan = _plan(QUERIES["flesch_reading"](spark, SF))
    assert "Window" not in plan
    assert plan.count("Exchange") == 1  # one group-by shuffle, nothing else
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" not in read and "source" not in read


def test_ks_drift_scan_prunes_to_group_and_value(spark):
    from xdan_dqa_spark.plans.entry_queries import QUERIES

    plan = _plan(QUERIES["ks_length_drift"](spark, SF))
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read  # ECDFs need only (source, n_chars)


def test_triangle_census_equi_joins_only(spark):
    from xdan_dqa_spark.plans.entry_queries import QUERIES

    plan = _plan(QUERIES["triangle_census"](spark, SF))
    # wedge + closing joins must be equi-keyed (hash/sort-merge), never a
    # cartesian; the only nested-loop joins are the 1-row census folds.
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
