"""The benchmark's own tests: deterministic inputs, and printed metric names
and units that match BENCHMARK.json.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import inputs as I  # noqa: E402
from perfbench import run  # noqa: E402
from perfbench.layers import PER_LAYER  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _files(path: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(path):
        for n in sorted(names):
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), path)] = f.read()
    return out


def _write_all(seed: int, root: str) -> dict[str, bytes]:
    I.write_parquet(I.snapshot(seed), I.WEBTEXT_ARROW, f"{root}/snapshot", 8)
    I.write_parquet(I.corpus(seed).docs, I.DOCS_ARROW, f"{root}/corpus", 8)
    return _files(root)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    c = _write_all(8, str(tmp_path / "c"))
    assert a and a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def test_ground_truth_is_deterministic():
    assert I.corpus(3).injected == I.corpus(3).injected


def test_command_records_the_built_in_settings(spec):
    """The command's settings flags match the defaults, so a run without
    them measures the same benchmark."""
    names = [w["name"] for w in spec["workloads"]]
    assert set(names) == set(WORKLOADS)
    args = run.parse_args(spec["command"][2:] + ["--workload", names[0], "--seed", "1",
                                                 "--seconds", "1"])
    assert args.jvm_heap == run.JVM_HEAP
    assert {w: int(n) for w, n in args.warmup.items()} == {
        w: c.warmup_ops for w, c in WORKLOADS.items()}
    assert {w: float(s) for w, s in args.nominal_op_s.items()} == {
        w: c.nominal_op_s for w, c in WORKLOADS.items()}


def test_end_to_end_names_and_units(spec):
    ops = [{"wall": 9.0, "docs": 100, "busy": 20.0, "out_bytes": 5000, "ok": True}] + [
        {"wall": 2.0 + k / 10, "docs": 100, "busy": 6.0, "out_bytes": 5000, "ok": True}
        for k in range(4)]
    printed = run._end_to_end(ops, ops[1:], setup_s=8.5, peak_rss_mb=900.0)
    assert {k: m["unit"] for k, m in printed.items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in printed.values())


def test_per_layer_names_and_units(spec):
    tracer = Tracer()
    with tracer.span("session.start"):
        pass
    timed = [{"wall": 2.0, "wall_raw": 2.1, "docs": 100, "busy": 6.0, "steal": 0.1,
              "cpu_total": 8.0, "tasks": 12, "failed_tasks": 0, "traced": bool(k % 2)}
             for k in range(4)]
    printed = run._per_layer(timed, tracer, {"scan.s": 0.1}, nproc=4)
    assert {k: m["unit"] for k, m in printed.items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]}
    assert list(PER_LAYER) == [m["name"] for m in spec["per_layer"]]


def test_self_time_subtracts_children():
    tracer = Tracer()
    tracer.op = 1
    with tracer.span("op"):
        with tracer.span("job"):
            pass
    own = tracer.self_seconds()
    dur = [s["end"] - s["start"] for s in tracer.spans]
    assert own[1] == pytest.approx(dur[1])
    assert own[0] == pytest.approx(dur[0] - dur[1])


def test_tree_memory_is_sampled():
    from perfbench.hostmon import RssSampler, pss_bytes

    assert pss_bytes(os.getpid()) > 0
    with RssSampler(interval_s=0.01) as rss:
        pass
    assert rss.peak_bytes >= pss_bytes(os.getpid()) // 2


def test_unstolen_removes_the_stolen_share():
    from perfbench.hostmon import CpuTimes

    assert CpuTimes(busy=6.0, steal=2.0, total=10.0).unstolen(4.0) == pytest.approx(3.0)
    assert CpuTimes(busy=0.0, steal=0.0, total=1.0).unstolen(4.0) == 4.0
