"""The benchmark workloads: inputs, one op, and output checks.

Each op runs a packaged job's ``main(argv)`` in-process, the program's
public entry point. Checks read the committed parquet with pyarrow,
outside the timed region, independently of Spark.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import os
import shutil
from dataclasses import dataclass, field
from typing import ClassVar

import pyarrow.parquet as pq

from . import inputs as I
from .tracing import Tracer, spark_actions

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

MIN_RECALL = 0.90      # LSH at 4 bands x 2 rows finds a J>=0.8 pair with p~0.98
MIN_PRECISION = 0.90


def load_job(name: str):
    path = os.path.join(REPO, "jobs", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@contextlib.contextmanager
def keep_session():
    """The jobs end with ``spark.stop()``. A second session in the same
    Python process then trips PySpark's accumulator server on every task,
    a cost no spark-submit pays, so ops share the set-up session and
    ``setup_s`` / ``first_op_s`` carry the start-up cost instead."""
    from pyspark.sql import SparkSession

    orig = SparkSession.stop
    SparkSession.stop = lambda self: None
    try:
        yield
    finally:
        SparkSession.stop = orig


def run_job(job, argv: list[str], tracer: Tracer | None = None) -> dict[str, str]:
    """Run a job's ``main`` and parse the ``key=value`` fields of its RESULT
    line. With a tracer, the job and each Spark action it runs get a span."""
    buf = io.StringIO()
    traced = (tracer.span("job"), spark_actions(tracer)) if tracer else ()
    with keep_session(), contextlib.redirect_stdout(buf), contextlib.ExitStack() as stack:
        for cm in traced:
            stack.enter_context(cm)
        rc = job.main(argv)
    if rc != 0:
        raise RuntimeError(f"{job.__name__} returned {rc}")
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("RESULT ")]
    if not lines:
        raise RuntimeError(f"{job.__name__} printed no RESULT line")
    return dict(kv.split("=", 1) for kv in lines[-1].split()[1:])


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def read_cols(path: str, cols: list[str]) -> dict[str, list]:
    t = pq.read_table(path, columns=cols)  # directory of part files
    return {c: t.column(c).to_pylist() for c in cols}


def scored_digest(path: str) -> tuple[float, str, list[int]]:
    """(keep rate, order-independent digest of (url, keep, score, pred_lang,
    scrub_count), doc ids) of a committed scored table."""
    c = read_cols(path, ["doc_id", "url", "keep", "score", "pred_lang", "scrub_count"])
    rows = sorted(f"{u}\t{k}\t{s!r}\t{p}\t{n}" for u, k, s, p, n in
                  zip(c["url"], c["keep"], c["score"], c["pred_lang"], c["scrub_count"]))
    keep_rate = sum(bool(k) for k in c["keep"]) / max(len(rows), 1)
    return keep_rate, hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16], c["doc_id"]


def _unique_count_errors(ids: list[int], expected: int, what: str) -> list[str]:
    errs = []
    if len(ids) != expected:
        errs.append(f"{what}: {len(ids)} committed docs, expected {expected}")
    if len(set(ids)) != len(ids):
        errs.append(f"{what}: {len(ids) - len(set(ids))} duplicate doc_ids")
    return errs


@dataclass
class DedupScore:
    removed: int = 0
    injected: int = 0
    hits: int = 0  # removed docs that were injected

    def add(self, removed: set, injected: set) -> None:
        self.removed += len(removed)
        self.injected += len(injected)
        self.hits += len(removed & injected)

    @property
    def recall(self) -> float:
        return self.hits / self.injected if self.injected else 1.0

    @property
    def precision(self) -> float:
        return self.hits / self.removed if self.removed else 1.0

    def errors(self) -> list[str]:
        errs = []
        if self.recall < MIN_RECALL:
            errs.append(f"dedup recall {self.recall:.4f} < {MIN_RECALL}")
        if self.precision < MIN_PRECISION:
            errs.append(f"dedup precision {self.precision:.4f} < {MIN_PRECISION}")
        return errs


@dataclass
class Workload:
    """One run's state. Each op runs one packaged job over the same input
    into a fresh output dir, which is checked and removed after the op.

    ``warmup_ops`` untimed ops follow the cold first op; ``nominal_op_s``
    sizes the timed op count as ceil(seconds / nominal_op_s). Both are fixed
    per workload, so parent and change run the same ops."""

    warmup_ops: ClassVar[int]
    nominal_op_s: ClassVar[float]
    job_args: ClassVar[tuple[str, ...]] = ()

    work: str
    master: str
    seed: int
    n_ops: int
    tracer: Tracer | None = None  # set for traced ops only
    digests: set = field(default_factory=set)
    keep_rate: float = 0.0
    dedup: DedupScore | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def write_inputs(self, df, schema) -> None:
        self.n_docs = len(df)
        I.write_parquet(df, schema, self.path("in", "full"), 8)

    def register(self, spark) -> None:
        spark.read.parquet(self.path("in", "full"))

    def op(self, i: int) -> int:
        self._res = run_job(self.job, ["--input", self.path("in", "full"),
                                       "--output", self.path("ops", f"op{i}"),
                                       "--master", self.master, "--run-id", f"op{i}",
                                       *self.job_args], self.tracer)
        return self.n_docs

    def out_bytes(self, i: int) -> int:
        return du(self.path("ops", f"op{i}"))

    def check(self, i: int) -> list[str]:
        out = self.path("ops", f"op{i}")
        errs = self.check_output(out, f"op{i}")
        shutil.rmtree(out)
        return errs

    def finish(self) -> list[str]:
        return self.dedup.errors() if self.dedup else []


class FilterSnapshot(Workload):
    """Batch quality filter: quality_filter_job over one fixed snapshot."""

    name = "filter_snapshot"
    # Op 1 still runs 10-20% over op 2, but a warm-up op would add ~8 s to a
    # ~55 s run, more than the benchmark's time per run allows.
    warmup_ops = 0
    nominal_op_s = 10.0

    def generate(self) -> None:
        self.write_inputs(I.snapshot(self.seed), I.WEBTEXT_ARROW)
        self.job = load_job("quality_filter_job")

    def check_output(self, out: str, what: str) -> list[str]:
        self.keep_rate, digest, ids = scored_digest(os.path.join(out, "scored"))
        self.digests.add(digest)
        errs = _unique_count_errors(ids, self.n_docs, what)
        if int(self._res["committed_docs"]) != self.n_docs:
            errs.append(f"{what}: job reported {self._res['committed_docs']} docs")
        return errs


class DedupNear(Workload):
    """Corpus near-dup removal: dedup_job --method minhash over one corpus."""

    name = "dedup_near"
    warmup_ops = 0      # as for filter_snapshot; op 1 runs 5-15% over op 2
    nominal_op_s = 10.0
    job_args = ("--method", "minhash")

    def generate(self) -> None:
        self.corpus = I.corpus(self.seed)
        self.write_inputs(self.corpus.docs, I.DOCS_ARROW)
        self.job = load_job("dedup_job")
        self.dedup = DedupScore()

    def check_output(self, out: str, what: str) -> list[str]:
        n = self.n_docs
        kept = read_cols(os.path.join(out, "deduped"), ["doc_id"])["doc_id"]
        errs = []
        if len(set(kept)) != len(kept):
            errs.append(f"{what}: duplicate doc_ids among survivors")
        if int(self._res["n_input"]) != n:
            errs.append(f"{what}: job read {self._res['n_input']} docs, offered {n}")
        if int(self._res["n_kept"]) != len(kept):
            errs.append(f"{what}: job reported {self._res['n_kept']} survivors, wrote {len(kept)}")
        if not self.digests:  # every op reads the same corpus; the digest covers the rest
            removed = set(self.corpus.docs["doc_id"].tolist()) - set(kept)
            self.dedup.add(removed, self.corpus.injected)
        self.keep_rate = len(kept) / n
        self.digests.add(hashlib.sha256(",".join(map(str, sorted(kept))).encode())
                         .hexdigest()[:16])
        return errs


WORKLOADS = {w.name: w for w in (FilterSnapshot, DedupNear)}
