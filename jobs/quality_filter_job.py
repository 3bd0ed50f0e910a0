"""spark-submit entrypoint: score → keep/drop → scrub → write + metrics.

The Spark-native equivalent of the reference's ``scripts/run_assessment.py``
/ ``src/cli.py process_dataset`` lifecycle (SURVEY.md §3): one lazy
DataFrame chain, idempotent parquet appends, id-anti-join resume.

Usage:
    spark-submit --py-files xdan_dqa_spark.zip jobs/quality_filter_job.py \
        --input synth:2000 --output /tmp/out --min-score 6.0 [--resume]

``--input`` is a parquet path of webtext shape (url, warc_ts, html, text,
lang), or ``synth:N`` to generate the deterministic N-row fixture table.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

# Runnable as a plain script (`python jobs/quality_filter_job.py`) without
# --py-files: put the repo root ahead of the script dir on sys.path.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--config", default=None,
                   help="YAML config file (reference default_config.yaml shape); "
                        "CLI flags override config values")
    p.add_argument("--input", default=None,
                   help="webtext parquet path, or synth:N for the fixture table "
                        "(overrides the config's datasets list)")
    p.add_argument("--output", default=None, help="output root dir")
    p.add_argument("--run-id", default="run-001")
    p.add_argument("--min-score", type=float, default=None)
    p.add_argument("--langs", default="", help="comma list of allowed langs (empty=all)")
    p.add_argument("--resume", action="store_true",
                   help="anti-join against committed output; score only new ids")
    p.add_argument("--resume-allow-fresh", action="store_true",
                   help="with --resume --bucketed-table: tolerate a missing "
                        "committed table (legitimate first run) instead of erroring")
    p.add_argument("--partitions", type=int, default=0,
                   help="salted repartition width (0 = leave input partitioning; "
                        "scoring is map-only so this is for unsplittable inputs)")
    p.add_argument("--bucketed-table", default=None,
                   help="write the scored output as a managed table bucketed by "
                        "doc_id instead of plain parquet; --resume then anti-joins "
                        "with no shuffle on the committed side")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from xdan_dqa_spark.session import get_spark
    from xdan_dqa_spark.pipeline import score_webtext, salted_repartition
    from xdan_dqa_spark.operators.metrics import (
        format_summary_table,
        run_readback,
        summarize_run,
    )
    from xdan_dqa_spark.operators.resume import (
        committed_ids,
        committed_ids_table,
        resume_filter,
    )
    from xdan_dqa_spark.pipeline import with_doc_id
    from xdan_dqa_spark.sources.sinks import appended_files, write_scored_bucketed

    from xdan_dqa_spark.config import JobConfig, load_config

    job_cfg = load_config(args.config) if args.config else JobConfig()
    if args.output is None:
        args.output = job_cfg.output_dir
    if args.input is None and not job_cfg.sources:
        p.error("either --input or a --config with a datasets list is required")

    spark = get_spark("quality_filter_job", master=args.master,
                      hive_metastore=bool(args.bucketed_table))
    t0 = time.time()

    if args.input and args.input.startswith("synth:"):
        from xdan_dqa_spark.synth import webtext_df

        df = webtext_df(spark, int(args.input.split(":", 1)[1]))
    elif args.input:
        df = spark.read.parquet(args.input)
    else:
        # config-driven multi-source load (reference datasets: list;
        # field mapping + sampling + union handled by the connectors)
        from xdan_dqa_spark.sources.readers import read_many

        df = read_many(spark, list(job_cfg.sources))

    if args.partitions:
        df = salted_repartition(df, args.partitions)

    out_scored = f"{args.output}/scored"
    out_metrics = f"{args.output}/metrics"

    df = with_doc_id(df)
    if args.resume:
        committed = (committed_ids_table(spark, args.bucketed_table)
                     if args.bucketed_table
                     else committed_ids(spark, out_scored))
        if committed is None and args.bucketed_table and not args.resume_allow_fresh:
            # --resume asserts a prior run committed work; an absent table
            # here almost always means the session is looking at the WRONG
            # metastore (cwd-relative Derby before the warehouse was
            # pinned, or a mistyped table name) — silently re-scoring and
            # re-appending everything would duplicate every row.
            raise SystemExit(
                f"--resume: bucketed table {args.bucketed_table!r} does not "
                "exist in the metastore. If this really is the first run, "
                "rerun without --resume (or with --resume-allow-fresh)."
            )
        df = resume_filter(df, committed)

    # config file first, CLI overrides
    from dataclasses import replace

    cfg = job_cfg.quality
    if args.min_score is not None:
        cfg = replace(cfg, min_score=args.min_score)
    if args.langs:
        cfg = replace(cfg, allowed_langs=tuple(x for x in args.langs.split(",") if x))
    scored = score_webtext(df, cfg)

    # Score once: the write runs the scoring plan. Then ONE grouped scan
    # of the committed output (three small columns) serves the lineage
    # rows (this run's files, grouped by write task), the run summary and
    # the cumulative RESULT counts — never a second evaluation of `scored`.
    if args.bucketed_table:
        written = appended_files(
            lambda: write_scored_bucketed(scored, args.bucketed_table),
            spark, table=args.bucketed_table)
        committed = spark.table(args.bucketed_table)
    else:
        written = appended_files(
            lambda: scored.write.mode("append").parquet(out_scored),
            spark, path=out_scored)
        committed = spark.read.schema(scored.schema).parquet(out_scored)
    rb = run_readback(committed, written, args.run_id)
    rb.lineage.write.mode("append").parquet(out_metrics)
    wall = time.time() - t0
    # End-of-run stats table (reference src/cli.py:119-139) — THIS
    # invocation's numbers, folded from the lineage rows just written.
    # Summarizing from the metrics PARQUET would over-count on a rerun
    # that reuses a run_id (append accumulates rows per run_id across
    # invocations); the RESULT line below is the cumulative view.
    print(format_summary_table(summarize_run(rb.rows, args.run_id, wall)))
    n = rb.committed_docs
    print(
        f"RESULT run_id={args.run_id} committed_docs={n} "
        f"keep_rate={rb.keep_rate:.4f} wall_sec={wall:.2f} "
        f"docs_per_sec={(n / wall):.1f}"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
