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
