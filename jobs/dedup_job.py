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
  * the report's input count is a separate ``count()`` over the input
    (one more scan of the corpus, without the dedup work), and its
    survivor count is read back from the written survivors;
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

    from xdan_dqa_spark.session import get_spark
    from xdan_dqa_spark.operators import dedup as D

    spark = get_spark(f"dedup_job:{args.run_id}", master=args.master)
    t0 = time.time()
    if args.input.startswith("synth:"):
        docs = _synth(spark, int(args.input.split(":", 1)[1]))
    else:
        docs = spark.read.parquet(args.input)

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
        from pyspark.sql import functions as F

        scored = docs if "n_chars" in docs.columns else docs.withColumn(
            "n_chars", F.length(F.coalesce(F.col("text"), F.lit("")))
        )
        kept = D.cc_dedup_best(scored, "n_chars", threshold=args.threshold,
                               max_bucket=args.max_bucket)

    out = os.path.join(args.output, "deduped")
    kept.write.mode("overwrite").parquet(out)

    n_in = docs.count()
    n_kept = spark.read.parquet(out).count()
    wall = time.time() - t0
    report = spark.createDataFrame(
        [(args.run_id, method, n_in, n_kept, n_in - n_kept,
          round(1.0 - n_kept / max(n_in, 1), 6), round(wall, 3))],
        "run_id string, method string, n_input long, n_kept long, "
        "n_dropped long, drop_rate double, wall_sec double",
    )
    report.write.mode("overwrite").parquet(
        os.path.join(args.output, "report"))
    print(f"RESULT run_id={args.run_id} method={method} n_input={n_in} "
          f"n_kept={n_kept} drop_rate={1.0 - n_kept / max(n_in, 1):.4f} "
          f"wall_sec={wall:.2f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
