"""Per-partition lineage + batch metrics (A1/A5 + §2.6).

Re-expresses the reference's batch metrics (``calculate_batch_metrics``
``src/processor.py:404-421``: average/min/max score, success rate) and its
run-summary stats (``src/cli.py:119-139``) as ONE aggregation over the
scored rows, grouped by physical partition id — each Spark partition
is the analogue of a reference "batch", so lineage is per-unit-of-work
and a resumed run can prove which partitions committed.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

_LINEAGE_COLS = ("keep", "score", "scrub_count")


def _lineage_aggs() -> list[F.Column]:
    """The per-partition lineage aggregates, after ``part_id``."""
    return [
        F.count("*").alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum((~F.col("keep")).cast("long")).alias("n_drop"),
        F.sum(F.when(F.col("score").isNull(), 1).otherwise(0)).alias("n_error"),
        F.sum(F.col("scrub_count").cast("long")).alias("scrub_count"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
        F.avg("score").alias("avg_score"),
    ]


def _stamped(lineage: DataFrame, run_id: str) -> DataFrame:
    """``run_id`` first and ``committed_at`` last around the lineage
    aggregates: the metrics/ table's columns."""
    return lineage.select(F.lit(run_id).alias("run_id"), "*",
                          F.current_timestamp().alias("committed_at"))


def partition_metrics(scored: DataFrame, run_id: str) -> DataFrame:
    """One lineage row per physical partition of ``scored``, with
    ``part_id = spark_partition_id()`` — a full run of its plan. A job
    that has just written ``scored`` reads its lineage back instead
    (``run_readback``)."""
    rows = scored.withColumn("part_id", F.spark_partition_id())
    return _stamped(rows.groupBy("part_id").agg(*_lineage_aggs()), run_id)


@dataclass(frozen=True)
class RunReadback:
    """What one scan of a committed output tells quality_filter_job after
    its write."""

    lineage: DataFrame     # this run's lineage rows (partition_metrics' schema), local
    rows: list[Row]        # the same rows on the driver, committed_at aside
    committed_docs: int    # every committed row, this run's and older ones
    keep_rate: float       # avg(keep) over them (NULL keeps aside), 0.0 if none


def run_readback(committed: DataFrame, written_files: list[str],
                 run_id: str) -> RunReadback:
    """Lineage, run summary and cumulative counts from ONE grouped scan of
    ``committed`` (a file-based read of the output a write just appended
    to), collected to the driver.

    The rows of ``written_files`` (the part files the write committed)
    are grouped by write task: ``part_id`` is the task number in each
    file name, which equals ``spark_partition_id()`` in the written plan,
    so each group equals ``partition_metrics`` of that plan's partition
    (``avg_score`` can differ in the last bit when one task's rows are
    split over several files or read splits: summation order). The older
    rows form one ``part_id`` NULL group that only the cumulative counts
    read. Only ``_LINEAGE_COLS`` are read; the scoring plan never runs
    again. The lineage rows become a DataFrame over a local Arrow table in
    one partition, so writing them reads nothing, adds one file and starts
    no Python worker (a list of Rows would: ~0.8 s against ~0.2 s for the
    write at local[4])."""
    spark = committed.sparkSession
    names = sorted({f.rsplit("/", 1)[-1] for f in written_files})
    file_name = F.col("_metadata.file_name")
    task = F.regexp_extract(file_name, r"^part-(\d+)", 1).cast("int")
    grouped = (committed.select(*_LINEAGE_COLS, F.when(file_name.isin(names), task)
                                .alias("part_id"))
               .groupBy("part_id").agg(*_lineage_aggs()))
    # part_id is typed as spark_partition_id() is: int not null
    schema = StructType([StructField(f.name, f.dataType, f.name != "part_id" and f.nullable)
                         for f in grouped.schema])
    groups = grouped.collect()
    mine = sorted((g for g in groups if g["part_id"] is not None), key=lambda g: g["part_id"])
    local = pa.Table.from_pylist([g.asDict() for g in mine], schema=to_arrow_schema(schema))
    kept = sum(g["n_keep"] or 0 for g in groups)
    judged = kept + sum(g["n_drop"] or 0 for g in groups)
    return RunReadback(
        lineage=_stamped(spark.createDataFrame(local, schema).coalesce(1), run_id),
        rows=[Row(run_id=run_id, **g.asDict()) for g in mine],
        committed_docs=sum(g["n_docs"] for g in groups),
        keep_rate=kept / judged if judged else 0.0,
    )


def summarize_run(rows: list[Row], run_id: str, wall_sec: float) -> dict:
    """Fold this run's per-partition lineage rows (collected, as
    ``RunReadback.rows``) into the reference's end-of-run stats
    (``src/cli.py:119-139``: Total Items / Successfully Processed / Failed
    Items / Filtered Items / Success Rate / Processing Time / Items per
    Second). A few rows summed in Python — no Spark job, and the scored
    data is NOT re-scanned."""
    mine = [r for r in rows if r["run_id"] == run_id]

    def total(field: str) -> int:
        return sum(r[field] or 0 for r in mine)

    n, kept = total("n_docs"), total("n_keep")
    return {
        "run_id": run_id,
        "total_items": n,
        "successfully_processed": kept,
        "failed_items": total("n_error"),
        "filtered_items": total("n_drop"),
        "scrub_count": total("scrub_count"),
        "success_rate_pct": round(100.0 * kept / n, 2) if n else 0.0,
        "processing_time_sec": round(wall_sec, 2),
        "items_per_second": round(n / wall_sec, 2) if wall_sec > 0 else 0.0,
    }


def format_summary_table(s: dict) -> str:
    """Human-readable analogue of the reference's rich Table printout."""
    rows = [
        ("Total Items", f"{s['total_items']}"),
        ("Successfully Processed", f"{s['successfully_processed']}"),
        ("Failed Items", f"{s['failed_items']}"),
        ("Filtered Items", f"{s['filtered_items']}"),
        ("Scrub Count", f"{s['scrub_count']}"),
        ("Success Rate", f"{s['success_rate_pct']:.2f}%"),
        ("Processing Time", f"{s['processing_time_sec']:.2f} seconds"),
        ("Items per Second", f"{s['items_per_second']:.2f}"),
    ]
    w = max(len(k) for k, _ in rows)
    lines = [f"Processing Results — {s['run_id']}"]
    lines += [f"  {k.ljust(w)}  {v}" for k, v in rows]
    return "\n".join(lines)


def feature_correlation(df: DataFrame, x_col: str, y_col: str,
                        by: str) -> DataFrame:
    """Per-group Pearson correlation of two integer feature columns via
    EXACT moment sums — the feature-QA primitive (e.g. chars-vs-tokens
    drift per language flags tokenizer or extraction regressions).

    Why not ``F.corr``: the built-in streams doubles through Welford-style
    running updates, so the result depends on row order and partitioning —
    non-deterministic across runs and never bit-equal across engines.
    Here the five moment sums (Σx, Σy, Σxy, Σx², Σy²) are accumulated as
    DECIMAL(38,0) — exact integer arithmetic in both Spark and DuckDB
    (hugeint), order-independent, map-side-combinable — and only the final
    closed-form r = (nΣxy − ΣxΣy) / √(nΣx²−(Σx)²)·√(nΣy²−(Σy)²) runs in
    doubles, where every op (mul/sub/div/sqrt) is IEEE-754
    correctly-rounded and therefore bit-identical given identical inputs.
    One map-side-combined hash aggregate; output is one bounded row per
    group. Zero-variance groups yield 0.0 (guarded), not NULL/NaN."""
    xd = F.col(x_col).cast("decimal(19,0)")
    yd = F.col(y_col).cast("decimal(19,0)")
    m = df.groupBy(by).agg(
        F.count("*").cast("double").alias("_n"),
        F.sum(F.col(x_col).cast("decimal(38,0)")).cast("double").alias("_sx"),
        F.sum(F.col(y_col).cast("decimal(38,0)")).cast("double").alias("_sy"),
        F.sum((xd * F.col(y_col).cast("decimal(18,0)")).cast("decimal(38,0)"))
        .cast("double").alias("_sxy"),
        F.sum((xd * F.col(x_col).cast("decimal(18,0)")).cast("decimal(38,0)"))
        .cast("double").alias("_sxx"),
        F.sum((yd * F.col(y_col).cast("decimal(18,0)")).cast("decimal(38,0)"))
        .cast("double").alias("_syy"),
    )
    vx = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = F.col("_n") * F.col("_syy") - F.col("_sy") * F.col("_sy")
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    return m.select(
        F.col(by),
        F.col("_n").cast("long").alias("n"),
        F.when((vx > 0) & (vy > 0), num / (F.sqrt(vx) * F.sqrt(vy)))
        .otherwise(F.lit(0.0)).alias("pearson_r"),
    )


def mutual_information(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """One-row mutual information (nats) between two categorical
    columns — (n_rows, n_cells, mi_nats). MI(lang; source) near 0 means
    sources are language-balanced; high MI means language is predicted
    by source (a single-language source dominating its slice) — the
    information-theoretic audit behind the keep_rate_by_lang fairness
    report.

    Determinism discipline (token_entropy's pattern): a raw float sum
    of p·ln terms is accumulation-order-dependent, so each cell's term
    (c_ab/N)·ln(c_ab·N/(c_a·c_b)) — ONE fixed IEEE sequence on exact
    integer counts — is rounded to 9 dp and summed as DECIMAL
    (order-free, map-side combinable). Cells with c_ab = 0 contribute
    exactly 0 by the MI definition and never appear (the contingency
    fold only emits observed cells).

    Scale shape: one contingency fold at (a, b) grain (bounded by the
    category product), marginals are two further folds of THAT bounded
    table, attached by key joins; the final fold is one row."""
    cells = df.groupBy(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).agg(F.count("*").alias("c_ab"))
    ma = cells.groupBy("_a").agg(F.sum("c_ab").alias("c_a"))
    mb = cells.groupBy("_b").agg(F.sum("c_ab").alias("c_b"))
    tot = cells.agg(F.sum("c_ab").alias("n_rows"))
    joined = (
        cells.join(ma, "_a").join(mb, "_b")
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("n_rows").cast("double")
    term = (
        F.col("c_ab").cast("double") / n
    ) * F.log(
        F.col("c_ab").cast("double") * n
        / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
    )
    return (
        joined.select(
            "n_rows",
            F.round(term, 9).cast("decimal(20,9)").alias("_t"),
        )
        .groupBy("n_rows")
        .agg(
            F.count("*").alias("n_cells"),
            F.round(F.sum("_t").cast("double"), 6).alias("mi_nats"),
        )
    )


def fd_discovery(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise functional-dependency CENSUS over a column set: for
    every ordered pair (lhs -> rhs), how many lhs values exist, how
    many violate (map to >1 distinct rhs), and whether the FD holds —
    discovery over all candidate pairs rather than a check of ONE
    declared FD. The schema-inference report a new feed gets before
    anyone writes constraints by hand.

    Scale shape: each pair is two stacked aggregates (groupBy(lhs, rhs)
    → groupBy(lhs) — per-group state bounded at any rhs cardinality),
    the per-pair 1-row summaries
    union into one bounded report. len(cols)² − len(cols) small plans
    over one cacheable input — run it on a profile sample, not the
    full corpus (as with any profiler)."""
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    outs = []
    for lhs in cols:
        for rhs in cols:
            if lhs == rhs:
                continue
            pairs = df.groupBy(F.col(lhs).alias("_l"),
                               F.col(rhs).alias("_r")).agg(
                F.count("*").alias("_c")
            )
            per = pairs.groupBy("_l").agg(
                F.count("*").alias("_nd")
            )
            outs.append(per.agg(
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.count("*").alias("n_lhs_values"),
                F.sum(F.when(F.col("_nd") > 1, 1).otherwise(0)).alias(
                    "n_violating"
                ),
            ).withColumn("holds", F.col("n_violating") == 0))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def k_anonymity_census(df: DataFrame, qi_cols: list[str], k: int = 5,
                       sensitive_col: str | None = None) -> DataFrame:
    """One-row k-anonymity (and optional l-diversity) risk census over
    a quasi-identifier column set: (n_classes, n_rows,
    n_classes_below_k, n_rows_at_risk, min_class_size[, min_l]) — the
    privacy audit a dataset release gate runs: every equivalence class
    of QI values smaller than k re-identifies its members; if a
    sensitive column is given, min_l is the smallest number of distinct
    sensitive values in any class (l-diversity — a k-anonymous class
    where everyone shares one diagnosis still leaks it).

    Shape: ONE fold to the QI grain (map-side combinable; class count
    bounded by the QI value product), then one bounded fold to the
    report row. The distinct-sensitive count per class uses the
    stacked-aggregate form (groupBy(QI, sensitive) first) so per-class
    state stays bounded at any sensitive cardinality."""
    if not qi_cols:
        raise ValueError("qi_cols must be non-empty")
    if k < 2:
        raise ValueError(f"k must be >= 2 (got {k})")
    if sensitive_col is None:
        classes = df.groupBy(*qi_cols).agg(F.count("*").alias("_n"))
        lcol = []
        lagg = []
    else:
        pairs = df.groupBy(*qi_cols, sensitive_col).agg(
            F.count("*").alias("_c")
        )
        classes = pairs.groupBy(*qi_cols).agg(
            F.sum("_c").alias("_n"), F.count("*").alias("_l")
        )
        lcol = ["_l"]
        lagg = [F.min("_l").alias("min_l")]
    return classes.select("_n", *lcol).agg(
        F.count("*").alias("n_classes"),
        F.sum("_n").alias("n_rows"),
        F.sum(F.when(F.col("_n") < k, 1).otherwise(0)).alias("n_classes_below_k"),
        F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0)).alias("n_rows_at_risk"),
        F.min("_n").alias("min_class_size"),
        *lagg,
    )
