"""End-of-run stats table (reference ``src/cli.py:119-139``): the
summarize_run fold over lineage rows, the printed table shape, and the
spark-submit job end-to-end through a real subprocess."""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.join(os.path.dirname(__file__), "..")


def test_summarize_run_fields(spark, webtext):
    from xdan_dqa_spark.operators.metrics import (
        format_summary_table,
        partition_metrics,
        summarize_run,
    )
    from xdan_dqa_spark.pipeline import score_webtext, with_doc_id

    scored = score_webtext(with_doc_id(webtext))
    pm = partition_metrics(scored, "run-x").collect()
    s = summarize_run(pm, "run-x", wall_sec=2.0)
    assert s["total_items"] == 800
    assert s["total_items"] == s["successfully_processed"] + s["filtered_items"]
    assert 0.0 < s["success_rate_pct"] < 100.0
    assert s["items_per_second"] == 400.0
    assert s["failed_items"] == 0  # deterministic stack: no error lane rows
    # an unknown run_id folds to zeros, not a crash
    z = summarize_run(pm, "no-such-run", wall_sec=1.0)
    assert z["total_items"] == 0 and z["success_rate_pct"] == 0.0
    table = format_summary_table(s)
    for label in ("Total Items", "Successfully Processed", "Failed Items",
                  "Filtered Items", "Success Rate", "Processing Time",
                  "Items per Second"):
        assert label in table


def test_job_subprocess_end_to_end(tmp_path):
    """spark-submit lifecycle in a clean process: synth input → scored +
    metrics parquet + stats table + RESULT line."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "quality_filter_job.py"),
         "--input", "synth:300", "--output", str(tmp_path / "out"),
         "--run-id", "it-1", "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "Processing Results — it-1" in out.stdout
    m = re.search(r"Total Items\s+(\d+)", out.stdout)
    assert m and int(m.group(1)) == 300
    m = re.search(r"RESULT run_id=it-1 committed_docs=(\d+) keep_rate=([0-9.]+)",
                  out.stdout)
    assert m and int(m.group(1)) == 300
    assert (tmp_path / "out" / "scored").exists()
    assert (tmp_path / "out" / "metrics").exists()


def test_rerun_same_run_id_summary_counts_only_this_invocation(tmp_path):
    """A --resume rerun that reuses the run_id must print THIS
    invocation's stats (0 newly scored docs), not the accumulated
    metrics rows of every invocation sharing the run_id — the summary
    folds the in-memory lineage frame, not the appended parquet."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    args = [sys.executable, os.path.join(REPO, "jobs", "quality_filter_job.py"),
            "--input", "synth:200", "--output", str(tmp_path / "out"),
            "--run-id", "rr-1", "--master", "local[4]"]
    first = subprocess.run(args, capture_output=True, text=True,
                           timeout=600, env=env, cwd=REPO)
    assert first.returncode == 0, first.stderr[-2000:]
    m = re.search(r"Total Items\s+(\d+)", first.stdout)
    assert m and int(m.group(1)) == 200
    rerun = subprocess.run(args + ["--resume"], capture_output=True,
                           text=True, timeout=600, env=env, cwd=REPO)
    assert rerun.returncode == 0, rerun.stderr[-2000:]
    m = re.search(r"Total Items\s+(\d+)", rerun.stdout)
    assert m and int(m.group(1)) == 0
    # cumulative view unchanged: still 200 committed docs, no duplicates
    m = re.search(r"RESULT run_id=rr-1 committed_docs=(\d+)", rerun.stdout)
    assert m and int(m.group(1)) == 200


def test_resume_missing_bucketed_table_fails(tmp_path):
    """--resume --bucketed-table with no committed table must ERROR (wrong
    metastore / mistyped table ⇒ silent full re-append), unless the user
    explicitly claims a fresh run."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4",
           "XDAN_DQA_WAREHOUSE": str(tmp_path / "wh")}
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "quality_filter_job.py"),
         "--input", "synth:50", "--output", str(tmp_path / "out"),
         "--resume", "--bucketed-table", "no_such_scored_tbl",
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert out.returncode != 0
    assert "does not exist in the metastore" in (out.stderr + out.stdout)


def test_dedup_job_subprocess_end_to_end(tmp_path):
    """jobs/dedup_job.py lifecycle in a clean process: synth corpus
    (20% exact + 10% near dups) → survivors + report parquet + RESULT
    line. Exact method must drop exactly the byte-identical copies
    (survivors distinct by text); the report's accounting must add up."""
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "dedup_job.py"),
         "--input", "synth:400", "--output", str(tmp_path / "dd"),
         "--method", "exact", "--run-id", "dd-1", "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    m = re.search(r"RESULT run_id=dd-1 method=exact n_input=(\d+) "
                  r"n_kept=(\d+)", out.stdout)
    assert m and int(m.group(1)) == 400
    n_kept = int(m.group(2))
    assert 0 < n_kept < 400

    import duckdb

    dd = str(tmp_path / "dd")
    n_rows, n_texts = duckdb.sql(
        f"SELECT count(*), count(DISTINCT text) FROM '{dd}/deduped/*.parquet'"
    ).fetchone()
    assert n_rows == n_kept == n_texts          # survivors text-distinct
    rep = duckdb.sql(
        f"SELECT n_input, n_kept, n_dropped FROM '{dd}/report/*.parquet'"
    ).fetchone()
    assert rep == (400, n_kept, 400 - n_kept)


# --- lineage from the written files: one scoring pass per run --------------

def _job(name="quality_filter_job"):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_in_process(monkeypatch, capsys, argv):
    """quality_filter_job.main in this process, on the test session (the
    job's closing spark.stop() is a no-op here). Returns its stdout."""
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    assert _job().main([*argv, "--master", "local[4]"]) == 0
    return capsys.readouterr().out


def _total_items(stdout):
    return int(re.search(r"Total Items\s+(\d+)", stdout).group(1))


def _webtext_inputs(webtext, tmp_path):
    """A 200-url parquet and its 300-url superset, 4 files each."""
    base = webtext.select("url", "warc_ts", "html", "text", "lang").orderBy("url")
    paths = {}
    for n in (200, 300):
        paths[n] = str(tmp_path / f"in{n}")
        base.limit(n).repartition(4, "url").write.parquet(paths[n])
    return paths


def _part_tables(path):
    """Each parquet part file under ``path`` as a pyarrow table (the
    per-file schema keeps the nullability Spark wrote)."""
    import glob

    import pyarrow.parquet as pq

    return [pq.read_table(f) for f in sorted(glob.glob(f"{path}/*.parquet"))]


def _lineage_rows(tables, run_id):
    return sorted(
        tuple(r.values())
        for t in tables
        for r in t.drop(["committed_at"]).to_pylist()
        if r["run_id"] == run_id
    )


def test_job_lineage_equals_plan_lineage(spark, webtext, tmp_path, monkeypatch, capsys):
    """The job's metrics/ rows — read back from the files its write
    committed — equal partition_metrics evaluated on the same scored plan
    (part_id, every aggregate and the parquet schema, committed_at aside),
    on a fresh run and on a --resume run that adds new docs."""
    from xdan_dqa_spark import pipeline
    from xdan_dqa_spark.operators.metrics import partition_metrics

    plans = []
    orig = pipeline.score_webtext

    def spy(*args, **kwargs):
        plans.append(orig(*args, **kwargs))
        return plans[-1]

    monkeypatch.setattr(pipeline, "score_webtext", spy)
    inputs = _webtext_inputs(webtext, tmp_path)
    out = str(tmp_path / "out")
    fresh = _run_in_process(monkeypatch, capsys, [
        "--input", inputs[200], "--output", out, "--run-id", "fresh"])
    resumed = _run_in_process(monkeypatch, capsys, [
        "--input", inputs[300], "--output", out, "--run-id", "resume", "--resume"])
    assert (_total_items(fresh), _total_items(resumed)) == (200, 100)

    job_tables = _part_tables(f"{out}/metrics")
    for plan, run_id, n_docs in zip(plans, ("fresh", "resume"), (200, 100), strict=True):
        # a plan's input file listing is fixed when the plan is built, so
        # evaluating it again after the write scores this run's docs only
        ref = str(tmp_path / f"ref-{run_id}")
        partition_metrics(plan, run_id).write.parquet(ref)
        ref_tables = _part_tables(ref)
        got = _lineage_rows(job_tables, run_id)
        assert got == _lineage_rows(ref_tables, run_id)
        assert len(got) > 1                      # several partitions, each its part_id
        assert sum(r[2] for r in got) == n_docs
        want_schema = ref_tables[0].schema.remove_metadata()
        assert all(t.schema.remove_metadata().equals(want_schema) for t in job_tables)


def _sql_executions(spark):
    """(id, physical plan text) of every SQL execution this session ran,
    from its SQL status store (listener bus drained first)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [(e.executionId(), e.physicalPlanDescription())
            for e in (execs.apply(i) for i in range(execs.size()))]


def test_job_scores_each_document_once(spark, webtext, tmp_path, monkeypatch, capsys,
                                       full_plan_strings):
    """The executed SQL plans of one job run hold exactly one fused Arrow
    UDF node, in the write. Lineage, the summary and the RESULT read-back
    must not evaluate the scoring plan again, and the write must not run
    the UDF twice per row."""
    inputs = _webtext_inputs(webtext, tmp_path)
    before = {i for i, _ in _sql_executions(spark)}
    out = _run_in_process(monkeypatch, capsys, [
        "--input", inputs[200], "--output", str(tmp_path / "out"), "--run-id", "once"])
    assert _total_items(out) == 200
    plans = [p for i, p in _sql_executions(spark) if i not in before]
    assert len(plans) > 1
    # The status store keeps the formatted explain, which details each
    # node once under a "(<id>) <node>" header line.
    nodes = [p for p in plans for _ in re.finditer(r"^\(\d+\) ArrowEvalPython\b", p, re.M)]
    assert len(nodes) == 1
    assert "InsertIntoHadoopFsRelationCommand" in nodes[0]


def test_job_runs_three_sql_executions(spark, webtext, tmp_path, monkeypatch, capsys):
    """One job run is three SQL executions: the scored write, ONE grouped
    read-back of the committed output (lineage, summary and RESULT all
    come from it) and the lineage write, which reads local rows only."""
    inputs = _webtext_inputs(webtext, tmp_path)
    before = {i for i, _ in _sql_executions(spark)}
    out = _run_in_process(monkeypatch, capsys, [
        "--input", inputs[200], "--output", str(tmp_path / "out"), "--run-id", "three"])
    assert _total_items(out) == 200
    assert "RESULT run_id=three committed_docs=200 " in out
    plans = [p for i, p in _sql_executions(spark) if i not in before]
    assert len(plans) == 3
    write, readback, lineage = plans
    assert "ArrowEvalPython" in write and "InsertIntoHadoopFsRelationCommand" in write
    assert "HashAggregate" in readback and "InsertIntoHadoopFsRelationCommand" not in readback
    assert "InsertIntoHadoopFsRelationCommand" in lineage and "FileScan" not in lineage


def test_dedup_job_shingles_each_document_once(spark, tmp_path, full_plan_strings):
    """One dedup_job --method minhash run executes the shingle extraction
    (regexp_extract_all) in exactly one SQL plan, and not in the write:
    the materialised shingle-key table feeds both the signature and the
    Jaccard verify."""
    before = {i for i, _ in _sql_executions(spark)}
    assert _job("dedup_job").main([
        "--input", "synth:400", "--output", str(tmp_path / "dd"), "--method", "minhash",
        "--run-id", "once", "--master", "local[4]"]) == 0
    plans = [p for i, p in _sql_executions(spark) if i not in before]
    assert len(plans) > 1
    shingling = [p for p in plans if "regexp_extract_all" in p]
    assert len(shingling) == 1
    assert "InsertIntoHadoopFsRelationCommand" not in shingling[0]


def test_dedup_job_runs_each_stage_once(spark, tmp_path, full_plan_strings):
    """One dedup_job run evaluates the exact collapse (the md5 content key)
    in one executed plan, the key-table checkpoint, and no count pass: a
    minhash run is three SQL executions (checkpoint, survivors write,
    report write). The counts come from observations on the input and the
    write, and the one-row report is written from a local table."""
    import pyarrow.parquet as pq

    for method in ("minhash", "cc", "cc_best"):
        out = tmp_path / method
        before = {i for i, _ in _sql_executions(spark)}
        assert _job("dedup_job").main([
            "--input", "synth:400", "--output", str(out), "--method", method,
            "--run-id", "once", "--master", "local[4]"]) == 0
        plans = [p for i, p in _sql_executions(spark) if i not in before]
        assert sum("md5(" in p for p in plans) == 1, method
        report = plans[-1]
        assert "LocalTableScan" in report and "FileScan" not in report, method
        rep = pq.read_table(out / "report").to_pylist()
        assert len(rep) == 1 and rep[0]["n_input"] == 400, method
        assert rep[0]["n_kept"] == pq.read_table(out / "deduped").num_rows, method
        if method == "minhash":
            assert len(plans) == 3
            checkpoint, write, _ = plans
            assert "md5(" in checkpoint and "InsertIntoHadoopFsRelationCommand" not in checkpoint
            assert "InsertIntoHadoopFsRelationCommand" in write


def test_dedup_job_counts_input_the_collapse_skips(spark, tmp_path):
    """An input whose ids are all NULL empties the exact collapse, and
    adaptive execution then skips the input's observation: the job counts
    the input instead, and reports every row dropped. Texts that are all
    NULL are one exact-duplicate group, whose lowest id survives."""
    import pyarrow.parquet as pq

    cases = {"null_id": ([(None, "a b c"), (None, "d e f")], (2, 0)),
             "null_text": ([(1, None), (2, None)], (2, 1))}
    for name, (rows, want) in cases.items():
        src = str(tmp_path / name)
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
        out = tmp_path / f"dd_{name}"
        assert _job("dedup_job").main([
            "--input", src, "--output", str(out), "--method", "minhash",
            "--master", "local[4]"]) == 0
        rep = pq.read_table(out / "report").to_pylist()
        assert [(r["n_input"], r["n_kept"]) for r in rep] == [want], name


def test_job_lineage_empty_runs(spark, webtext, tmp_path, monkeypatch, capsys):
    """A --resume run with no new docs and a run over an empty input each
    write zero lineage rows and print "Total Items 0"; every metrics file
    keeps the lineage schema (part_id int32 not null)."""
    from xdan_dqa_spark.operators.metrics import partition_metrics, run_readback
    from xdan_dqa_spark.pipeline import score_webtext, with_doc_id

    inputs = _webtext_inputs(webtext, tmp_path)
    empty = str(tmp_path / "empty")
    webtext.select("url", "warc_ts", "html", "text", "lang").limit(0).write.parquet(empty)
    out = str(tmp_path / "out")
    runs = [("first", inputs[200], []), ("again", inputs[200], ["--resume"]),
            ("none", empty, ["--resume"])]
    for run_id, inp, extra in runs:
        stdout = _run_in_process(monkeypatch, capsys, [
            "--input", inp, "--output", out, "--run-id", run_id, *extra])
        assert _total_items(stdout) == (200 if run_id == "first" else 0)
    tables = _part_tables(f"{out}/metrics")
    assert sum(r[2] for r in _lineage_rows(tables, "first")) == 200
    assert _lineage_rows(tables, "again") == _lineage_rows(tables, "none") == []
    assert len({str(t.schema.remove_metadata()) for t in tables}) == 1
    part_id = tables[0].schema.field("part_id")
    assert str(part_id.type) == "int32" and not part_id.nullable

    # nothing written at all: zero lineage rows, of the plan-evaluated
    # lineage schema, while the cumulative counts still see the output
    scored = score_webtext(with_doc_id(webtext.limit(0)))
    rb = run_readback(spark.read.schema(scored.schema).parquet(f"{out}/scored"), [], "r")
    assert rb.rows == [] and rb.lineage.count() == 0
    assert rb.lineage.schema == partition_metrics(scored, "r").schema
    assert rb.committed_docs == 200


def test_bucketed_job_lineage_sums_to_appended_rows(webtext, tmp_path):
    """--bucketed-table: each run's lineage (from the bucket files its
    write added, grouped by write task) sums to the rows it appended."""
    import glob

    import pyarrow.parquet as pq

    inputs = _webtext_inputs(webtext, tmp_path)
    wh = tmp_path / "wh"
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4", "XDAN_DQA_WAREHOUSE": str(wh)}
    out = str(tmp_path / "out")
    for run_id, n, extra in (("b1", 200, []), ("b2", 300, ["--resume"])):
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "jobs", "quality_filter_job.py"),
             "--input", inputs[n], "--output", out, "--run-id", run_id,
             "--bucketed-table", "scored_bkt", "--master", "local[4]", *extra],
            capture_output=True, text=True, timeout=600, env=env, cwd=REPO,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        assert f"RESULT run_id={run_id} committed_docs={n} " in r.stdout
    tables = _part_tables(f"{out}/metrics")
    assert sum(r[2] for r in _lineage_rows(tables, "b1")) == 200
    assert sum(r[2] for r in _lineage_rows(tables, "b2")) == 100
    bucket_files = glob.glob(str(wh / "warehouse" / "scored_bkt" / "*.parquet"))
    assert sum(pq.read_metadata(f).num_rows for f in bucket_files) == 300
