"""In-memory spans recorded from the benchmark's side of each layer call.

A span is (id, name, parent, op, start, end). Spans nest through a stack,
so the span open when another starts is its parent. Self time is a span's
duration minus the time its children cover.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def self_seconds(self) -> list[float]:
        """Each span's duration minus its children's, in span order (children
        of one span run one after another, so their durations do not overlap)."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        return [max(0.0, s["end"] - s["start"] - child_s[s["id"]]) for s in self.spans]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _write_span_name(path: str) -> str:
    leaf = os.path.basename(os.path.normpath(str(path)))
    return {"scored": "job.write", "deduped": "job.write",
            "metrics": "job.lineage"}.get(leaf, "job.write_other")


@contextlib.contextmanager
def spark_actions(tracer: Tracer):
    """Wrap the pyspark actions the packaged jobs call (parquet writes,
    collect, count) in spans for the duration of the block."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    orig_parquet, orig_collect, orig_count = (
        DataFrameWriter.parquet, DataFrame.collect, DataFrame.count)

    def parquet(self, path, *a, **k):
        with tracer.span(_write_span_name(path)):
            return orig_parquet(self, path, *a, **k)

    def collect(self):
        with tracer.span("job.readback"):
            return orig_collect(self)

    def count(self):
        with tracer.span("job.readback"):
            return orig_count(self)

    DataFrameWriter.parquet, DataFrame.collect, DataFrame.count = parquet, collect, count
    try:
        yield
    finally:
        DataFrameWriter.parquet, DataFrame.collect, DataFrame.count = (
            orig_parquet, orig_collect, orig_count)
