"""The query registry: every query but the flagship has a DuckDB twin,
the twins are plain SQL strings, fetching them needs no SparkSession,
and a twin returns the same pandas dtypes as its Spark query."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.test_plan_audit import SF

REPO = os.path.join(os.path.dirname(__file__), "..")


def test_every_query_but_the_flagship_has_a_twin():
    import __spark_entry__ as e

    assert set(e.oracle_sql()) == set(e.queries()) - {"pipeline_score_documents"}


def test_every_twin_is_a_nonempty_string():
    import __spark_entry__ as e

    for name, sql in e.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), name


def test_oracle_sql_needs_no_spark_session():
    code = (
        "import __spark_entry__ as e\n"
        "from pyspark.sql import SparkSession\n"
        "assert e.oracle_sql()\n"
        "assert SparkSession.getActiveSession() is None\n"
        "print('ok')\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == "ok"


def test_j4_reconcile_twin_matches_spark_dtypes(spark):
    """DuckDB sums BIGINT to HUGEINT, which pandas reads as float64; the
    twin casts its order count back to BIGINT so both engines give int64."""
    import duckdb

    import __spark_entry__ as e

    got = e.queries()["j4_reconcile"](spark, SF).toPandas()
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    want = con.execute(e.oracle_sql()["j4_reconcile"]).df()

    assert list(got.columns) == list(want.columns)
    assert dict(got.dtypes) == dict(want.dtypes)
    key = "segment"
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert got.to_dict("records") == want.to_dict("records")
