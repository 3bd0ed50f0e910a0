"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB over
the same parquet, compare row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted).

Usage: SPARK_GRAFT_CPUS=$(nproc) python scripts/check_oracles.py [sf_dir] [only_query_name]

The session is get_spark's default, local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    d = df[cols].copy()
    for c in cols:
        if d[c].dtype == object:
            d[c] = d[c].astype(str)
        elif str(d[c].dtype).startswith("float"):
            d[c] = d[c].map(lambda x: f"{x:.9g}")
        else:
            d[c] = d[c].astype(str)
    if len(d) == 0:
        rows = []
    else:
        rows = sorted(d.apply(lambda r: "\x01".join(r.values), axis=1).tolist())
    import hashlib

    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(df), cols, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:]) or None

    import __spark_entry__ as e
    from xdan_dqa_spark.session import get_spark

    spark = get_spark("check_oracles")
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(spark_pdf)} rows, cols={sorted(spark_pdf.columns)}")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {type(ex).__name__}: {str(ex)[:200]}")
            failures += 1
            continue
        sn, sc, sh = canon(spark_pdf)
        dn, dc, dh = canon(duck_pdf)
        status = "OK  " if (sn, sc, sh) == (dn, dc, dh) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(f"{status} {name}: spark({sn} rows, {sh[:10]}) duck({dn} rows, {dh[:10]}) cols={'=' if sc == dc else f'{sc} vs {dc}'}")
        if status == "FAIL" and sn == dn and sc == dc:
            # show first differing row for debugging
            a = spark_pdf[sorted(spark_pdf.columns)].sort_values(sorted(spark_pdf.columns)).reset_index(drop=True)
            b = duck_pdf[sorted(duck_pdf.columns)].sort_values(sorted(duck_pdf.columns)).reset_index(drop=True)
            diff = (a.astype(str) != b.astype(str)).any(axis=1)
            if diff.any():
                i = diff.idxmax()
                print("  spark:", a.iloc[i].to_dict())
                print("  duck :", b.iloc[i].to_dict())
    spark.stop()
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
