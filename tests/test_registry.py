"""The query registry: every query but the flagship has a DuckDB twin,
the twins are plain SQL strings, fetching them needs no SparkSession,
and every twin reads only the `documents` table, bar the two reference
contracts that aggregate `events`."""

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


# Reference contracts that read the clickstream table: A2's per-type
# event totals and S2's streaming windowed aggregate (SURVEY §2.9).
EVENTS_READERS = {"a2_event_totals", "stream_windowed_agg"}


def test_every_twin_reads_only_the_document_surface():
    """Bind each twin against a catalog holding `documents` alone (plus
    `events` for EVENTS_READERS); a twin that reads any other table
    fails to bind."""
    import duckdb

    import __spark_entry__ as e

    def catalog(tables):
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
        return con

    docs_only = catalog(["documents"])
    with_events = catalog(["documents", "events"])
    off_surface = []
    for name, sql in e.oracle_sql().items():
        con = with_events if name in EVENTS_READERS else docs_only
        try:
            con.execute("EXPLAIN " + sql)
        except duckdb.CatalogException as ex:
            off_surface.append(f"{name}: {str(ex).splitlines()[0]}")
    assert not off_surface, "\n".join(off_surface)
