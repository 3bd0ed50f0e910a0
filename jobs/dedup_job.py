"""spark-submit entrypoint: corpus dedup → survivors + a dedup report.

The packaged production surface for the dedup stack (operators/dedup.py),
sibling to jobs/quality_filter_job.py: one CLI run reads a documents-shaped
parquet (doc_id, text, …), applies the selected dedup family, writes the
surviving rows and a one-row report parquet, and prints a RESULT line.

Usage:
    spark-submit --py-files xdan_dqa_spark.zip jobs/dedup_job.py \
        --input /data/docs --output /tmp/dedup_out \
        --method minhash [--threshold 0.7] [--max-bucket 100]

``--input`` is a parquet path with at least (doc_id, text), or ``synth:N``
for a deterministic fixture corpus with ~20% exact and ~10% near
duplicates. Methods: exact | canonical | wordset | minhash | simhash | cc
| cc_best (cc_best keeps the LONGEST member per near-dup cluster).

Scale notes live with each operator; this job adds only lifecycle:
  * survivors go to the fixed ``<output>/deduped`` dir, replaced per run
    (overwrite), so a rerun never leaves old survivors next to new ones;
    the dir is not scoped to ``--run-id``, so two concurrent runs into
    one ``--output`` clobber each other;
  * the report's counts come from two observations (``DataFrame.observe``)
    on plans the run executes anyway, the input and the survivors write,
    with no extra scan: the input count is taken where the dedup first
    reads the input, the survivor count by the write itself (an input
    the exact collapse empties is counted on its own, see _input_count);
  * the report row is a local Arrow table, so its write reads nothing
    and starts no Python worker;
  * ``--max-bucket`` forwards the LSH bucket cap (bounded-recall mode,
    logged by the operator — see dedup.cap_band_buckets).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _synth(spark, n: int):
    """Deterministic corpus: 70% unique docs, 20% exact dups of the
    first decile, 10% near dups (one token appended)."""
    from pyspark.sql import functions as F

    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 10 < 2,  # exact dup of template id%7
            F.concat(F.lit("template text block number "),
                     (F.col("id") % 7).cast("string"),
                     F.lit(" lorem ipsum dolor sit amet consectetur")),
        ).when(
            F.col("id") % 10 == 2,  # near dup: template + unique tail
            F.concat(F.lit("template text block number "),
                     (F.col("id") % 7).cast("string"),
                     F.lit(" lorem ipsum dolor sit amet consectetur tail"),
                     F.col("id").cast("string")),
        ).otherwise(
            F.concat(F.lit("unique document body "),
                     F.col("id").cast("string"),
                     F.lit(" with distinct content words "),
                     (F.col("id") * 7919).cast("string")),
        ).alias("text"),
    )
    return base.withColumn("n_chars", F.length("text"))


def _input_count(seen, docs) -> int:
    """The input rows counted by the observation ``seen`` on ``docs``.
    Adaptive execution drops the subtree under a join whose other side
    turned out empty, collector included: an empty input, or one whose
    ids are all NULL, empties the exact collapse's side. The
    observation then holds no row, and only then is the input counted."""
    from py4j.protocol import Py4JJavaError

    try:
        return seen.get["n"]
    except Py4JJavaError:
        return docs.count()


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="documents parquet path, or synth:N")
    p.add_argument("--output", required=True, help="output root dir")
    p.add_argument("--method", default="minhash",
                   choices=["exact", "canonical", "wordset", "minhash",
                            "simhash", "cc", "cc_best"])
    p.add_argument("--threshold", type=float, default=0.7,
                   help="Jaccard threshold (minhash/cc families)")
    p.add_argument("--max-hamming", type=int, default=3,
                   help="SimHash hamming radius")
    p.add_argument("--max-bucket", type=int, default=None,
                   help="opt-in LSH bucket cap (bounded recall, logged)")
    p.add_argument("--run-id", default="dedup-001")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    import pyarrow as pa
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from xdan_dqa_spark.session import get_spark
    from xdan_dqa_spark.operators import dedup as D

    spark = get_spark(f"dedup_job:{args.run_id}", master=args.master)
    t0 = time.time()
    if args.input.startswith("synth:"):
        docs = _synth(spark, int(args.input.split(":", 1)[1]))
    else:
        docs = spark.read.parquet(args.input)
    seen, written = Observation("dedup_input"), Observation("dedup_kept")
    n_rows = F.count(F.lit(1)).alias("n")
    source, docs = docs, docs.observe(seen, n_rows)

    method = args.method
    if method == "exact":
        kept = D.exact_dedup(docs)
    elif method == "canonical":
        kept = D.canonical_dedup(docs)
    elif method == "wordset":
        kept = D.wordset_dedup(docs)
    elif method == "minhash":
        kept = D.minhash_dedup(docs, threshold=args.threshold,
                               max_bucket=args.max_bucket)
    elif method == "simhash":
        kept = D.simhash_dedup(docs, max_hamming=args.max_hamming,
                               max_bucket=args.max_bucket)
    elif method == "cc":
        kept = D.cc_dedup(docs, threshold=args.threshold,
                          max_bucket=args.max_bucket)
    else:  # cc_best — longest doc survives its cluster
        scored = docs if "n_chars" in docs.columns else docs.withColumn(
            "n_chars", F.length(F.coalesce(F.col("text"), F.lit("")))
        )
        kept = D.cc_dedup_best(scored, "n_chars", threshold=args.threshold,
                               max_bucket=args.max_bucket)

    out = os.path.join(args.output, "deduped")
    kept.observe(written, n_rows).write.mode("overwrite").parquet(out)

    n_in, n_kept = _input_count(seen, source), written.get["n"]
    drop_rate = 1.0 - n_kept / max(n_in, 1)
    wall = time.time() - t0
    report = pa.Table.from_pylist([{
        "run_id": args.run_id, "method": method, "n_input": n_in, "n_kept": n_kept,
        "n_dropped": n_in - n_kept, "drop_rate": round(drop_rate, 6),
        "wall_sec": round(wall, 3)}])  # string, string, 3 × int64, double, double
    spark.createDataFrame(report).write.mode("overwrite").parquet(
        os.path.join(args.output, "report"))
    print(f"RESULT run_id={args.run_id} method={method} n_input={n_in} "
          f"n_kept={n_kept} drop_rate={drop_rate:.4f} wall_sec={wall:.2f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
