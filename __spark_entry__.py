"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship deterministic quality pipeline on
sf0.001. ``queries()`` returns every query in the registry: the
operators of SURVEY.md §2 plus the dedup and text-analysis stack. Every
query reads the ``documents`` table, except two reference contracts over
``events`` (``a2_event_totals``, ``stream_windowed_agg``).
``oracle_sql()`` returns the DuckDB twin of each of them except the
flagship ``pipeline_score_documents`` (rows-only); it builds the SQL
strings without a SparkSession. Both come from the one registry table
in ``xdan_dqa_spark/plans/entry_queries.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full scoring pipeline (langid + ppl UDFs, heuristics,
    weighted score, keep/drop, scrub) over the sf0.001 documents table."""
    from xdan_dqa_spark.plans.entry_queries import q_pipeline_score_documents

    return q_pipeline_score_documents(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from xdan_dqa_spark.plans.entry_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from xdan_dqa_spark.plans.entry_queries import oracle_map

    return oracle_map()
