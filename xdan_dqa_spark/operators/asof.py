"""Distributed as-of join (attach the most recent right-side row at or
before each left row's timestamp, per key).

Spark has no ASOF JOIN operator; the naive re-expressions are both
scale-broken: a range self-join explodes to |L|·|R| per key before the
aggregate, and a per-key collect is driver-bound. The scalable shape is
the UNION + WINDOW trick: tag both sides, sort each key's rows once by
(time, side), and carry the latest right ROW forward with
``last(..., ignorenulls=True)`` — ONE shuffle on the key, linear work,
whole-stage codegen, no UDFs. (Same idea Flink's temporal join and
kdb's aj use.)

The right side is first deduped to one row per (key, time) with a
deterministic last-wins rule so ties cannot make the match depend on
partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    time_col: str,
    value_cols: list[str],
    tie_col: str,
) -> DataFrame:
    """Left as-of join: every left row, plus ``value_cols`` from the
    latest right row with ``right.time <= left.time`` on the same key
    (NULLs when no prior right row exists).

    ``time_col`` must be an orderable scalar present on BOTH sides
    (epoch micros recommended); ``tie_col`` breaks right-side ties at
    equal (key, time) — highest wins.
    """
    w_dedup = Window.partitionBy(key_col, time_col).orderBy(F.desc(tie_col))
    # rank over the raw right frame, THEN project: tie_col may itself be
    # one of value_cols, so a select-then-drop would drop the value too.
    r = (
        right.withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .select(key_col, time_col, *value_cols)
    )

    left_cols = left.columns
    # side 0 sorts before side 1 at equal time → a right row AT the left
    # row's timestamp is visible to it (inclusive <= semantics).
    r_tagged = r.select(
        F.col(key_col),
        F.col(time_col),
        F.lit(0).alias("_side"),
        F.struct(*value_cols).alias("_rv"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}")
          for c in left_cols],
    )
    l_tagged = left.select(
        F.col(key_col),
        F.col(time_col),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r_tagged.schema["_rv"].dataType).alias("_rv"),
        *[F.col(c).alias(f"_l_{c}") for c in left_cols],
    )
    w_carry = (
        Window.partitionBy(key_col)
        .orderBy(time_col, "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # carry the whole struct (not bare columns): a right row whose VALUE
    # is legitimately NULL must still shadow older rows — ignorenulls on
    # a bare column would skip past it.
    carried = F.last("_rv", ignorenulls=True).over(w_carry)
    out = (
        r_tagged.unionByName(l_tagged)
        .withColumn("_carried", carried)
        .filter(F.col("_side") == 1)
        .select(
            *[F.col(f"_l_{c}").alias(c) for c in left_cols],
            *[F.col("_carried").getField(v).alias(v) for v in value_cols],
        )
    )
    return out
