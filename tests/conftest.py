from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

FIXTURES_DIR = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="session")
def spark():
    from xdan_dqa_spark.session import get_spark

    s = get_spark("pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def webtext(spark):
    """The deterministic 800-row fixture table (same rows the goldens froze)."""
    from xdan_dqa_spark.synth import webtext_df

    return webtext_df(spark, 800).cache()


@pytest.fixture(scope="session")
def scored(spark, webtext):
    from xdan_dqa_spark.pipeline import score_webtext

    return score_webtext(webtext).cache()


@pytest.fixture()
def full_plan_strings(spark):
    """Untruncated operator field lists in plan strings for one test: by
    default each operator's expressions are cut at the 25th, so an
    expression past it goes unseen."""
    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "100000")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)
