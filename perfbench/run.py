"""Closed-loop benchmark of the quality-filter system, one workload per run.

    python3 perfbench/run.py --workload filter_snapshot --seed 1 --seconds 20 --trace 0

One client sends one op at a time, each after the previous one completes,
on one Spark session at ``local[<nproc>]``. Op 0 is the cold first op,
the workload's warm-up ops follow untimed, and ceil(seconds / nominal op
seconds) ops, at least two, are timed, so parent and change run the same
op count. The
warm-up count, the nominal op seconds and the JVM heap are fixed in the
code; BENCHMARK.json's command repeats them as flags to record them.
Inputs come from the seed alone. Every op's output is checked; a failed op
or check makes the run exit 1.

No op starts later than OPS_DEADLINE_S after process start (less in a
traced run, whose layer probes follow the ops), so a run ends within the
180 s a run may take. A run that reaches the deadline reports the timed
ops it finished and says so; it fails only if it finished none.

Times exclude hypervisor steal: each op's clocked wall is scaled by
busy / (busy + steal) CPU seconds over the op, from /proc/stat. On a
shared host, steal windows of 10-20% otherwise decide which run is slow;
the clocked walls and the steal share are printed beside the metrics.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
ops and one more timed op, every other timed op inside spans, then times
each layer in isolation, and prints the per-layer metrics. Spans go to
``<checkout>/.perfbench_work/spans-<workload>-<seed>.json``.

The last stdout line is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = os.path.join(REPO, ".perfbench_work")
JVM_HEAP = "1g"           # SPARK_DRIVER_MEM: the one local-mode JVM; fits a 15 GB box
OPS_DEADLINE_S = 130      # no op starts later; leaves one slow op and the teardown
TRACE_OPS_DEADLINE_S = 80  # the same in a traced run, whose layer probes take ~50 s

END_TO_END = {
    "docs_per_s": "1/s", "op_p50_s": "s", "first_op_s": "s", "setup_s": "s",
    "peak_rss_mb": "MB", "cpu_s_per_kdoc": "s", "out_bytes_per_doc": "bytes",
}


def _kv(text: str) -> dict[str, str]:
    return dict(item.split("=", 1) for item in text.split(",") if item)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--jvm-heap", default=JVM_HEAP,
                   help="heap of the one local-mode JVM (sets SPARK_DRIVER_MEM)")
    p.add_argument("--warmup", type=_kv, default={},
                   help="untimed ops after the first, per workload: name=n,... "
                        "(default: the workload's warmup_ops)")
    p.add_argument("--nominal-op-s", type=_kv, default={},
                   help="per-workload op seconds that size the timed op count "
                        "(default: the workload's nominal_op_s)")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(REPO, "xdan_dqa_spark"))
            and os.path.isdir(os.path.join(REPO, "jobs"))):
        print(f"perfbench: no xdan_dqa_spark/ and jobs/ beside {HERE}; "
              "run it from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench import hostmon

    cpu0 = hostmon.cpu_times()
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Steadiness controls; set before the JVM and the Python workers start.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_DRIVER_MEM"] = args.jvm_heap
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from perfbench.layers import probe_layers
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    warmup = int(args.warmup.get(args.workload, cls.warmup_ops))
    nominal = float(args.nominal_op_s.get(args.workload, cls.nominal_op_s))
    # A traced run times one op more, so its traced ops (1st and 3rd timed)
    # straddle the untraced one and warm-up drift cancels in the overhead.
    n_timed = max(2, math.ceil(args.seconds / nominal)) + args.trace
    deadline_s = TRACE_OPS_DEADLINE_S if args.trace else OPS_DEADLINE_S
    tracer = Tracer()
    wl = cls(work=work, master=f"local[{nproc}]", seed=args.seed, n_ops=1 + warmup + n_timed)
    errors: list[str] = []
    notes: list[str] = []
    ops: list[dict] = []
    spark = None
    try:
        with hostmon.RssSampler() as rss:
            with tracer.span("setup.generate"):
                wl.generate()
            from xdan_dqa_spark.session import get_spark

            with tracer.span("session.start"):
                spark = get_spark("perfbench", master=wl.master, extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                })
            with tracer.span("setup.register"):
                wl.register(spark)
            setup_s = (hostmon.cpu_times() - cpu0).unstolen(hostmon.process_age_s())
            for i in range(wl.n_ops):
                if hostmon.process_age_s() > deadline_s:
                    notes.append(f"DEADLINE: {deadline_s} s reached, stopped after "
                                 f"{i} of {wl.n_ops} ops")
                    break
                ops.append(_run_op(wl, spark, i,
                                   bool(args.trace and i > warmup and (i - warmup) % 2),
                                   tracer, errors))
            errors += wl.finish()
            layers = probe_layers(wl, spark, tracer) if args.trace else {}
        peak_rss_mb = rss.peak_bytes / 2**20
    except Exception:
        traceback.print_exc()
        errors.append("run aborted: " + traceback.format_exc().strip().splitlines()[-1])
        setup_s = peak_rss_mb = 0.0
        layers = {}
    finally:
        if spark is not None:
            _stop_spark(spark)
        if args.trace:
            tracer.write(os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)

    timed = [o for o in ops[1 + warmup:] if o["ok"]]
    failed = sum(not o["ok"] for o in ops)
    if not timed and not errors:
        errors.append("no timed op finished")
    correct = not errors and failed == 0 and len(wl.digests) == 1 and len(timed) > 0
    if args.trace:
        metrics = _per_layer(timed, tracer, layers, nproc)
    else:
        metrics = _end_to_end(ops, timed, setup_s, peak_rss_mb)
    _report(args, wl, ops, timed, errors, notes, metrics, n_timed, warmup, nproc, tracer)
    print(json.dumps({"correct": correct, "attempted": max(len(ops), 1), "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def _stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session and the JVM, and wait until the JVM and its Python
    workers have exited; kill any that outlive ``timeout_s``."""
    import signal

    from pyspark import SparkContext

    from perfbench.hostmon import alive, descendants

    procs = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while any(alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if alive(p):
            os.kill(p, signal.SIGKILL)


def _spark_job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def _task_counts(spark, job_ids: set[int]) -> tuple[int, int]:
    tracker = spark.sparkContext.statusTracker()
    tasks = failed = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            if st:
                tasks += st.numTasks
                failed += st.numFailedTasks
    return tasks, failed


def _run_op(wl, spark, i: int, traced: bool, tracer, errors: list[str]) -> dict:
    from perfbench.hostmon import cpu_times

    wl.tracer = tracer if traced else None
    tracer.op = i
    jobs0, c0, t0 = _spark_job_ids(spark), cpu_times(), time.perf_counter()
    rec = {"i": i, "traced": traced, "ok": False}
    try:
        with wl.span("op"):
            rec["docs"] = wl.op(i)
        rec["wall_raw"] = time.perf_counter() - t0
        cpu = cpu_times() - c0
        rec["wall"] = cpu.unstolen(rec["wall_raw"])
        rec.update(busy=cpu.busy, steal=cpu.steal, cpu_total=cpu.total)
        rec["out_bytes"] = wl.out_bytes(i)
        rec["tasks"], rec["failed_tasks"] = _task_counts(spark, _spark_job_ids(spark) - jobs0)
        errs = wl.check(i)
        errors += errs
        rec["ok"] = not errs
    except Exception:
        traceback.print_exc()
        errors.append(f"op{i} raised: " + traceback.format_exc().strip().splitlines()[-1])
    finally:
        wl.tracer = None
    return rec


def _end_to_end(ops, timed, setup_s, peak_rss_mb) -> dict:
    if not timed:
        return {}
    docs = sum(o["docs"] for o in timed)
    vals = {
        "docs_per_s": statistics.median(o["docs"] / o["wall"] for o in timed),
        "op_p50_s": statistics.median(o["wall"] for o in timed),
        "first_op_s": ops[0].get("wall", 0.0),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "cpu_s_per_kdoc": 1000 * sum(o["busy"] for o in timed) / docs,
        "out_bytes_per_doc": statistics.median(o["out_bytes"] / o["docs"] for o in timed),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def _per_layer(timed, tracer, layers, nproc) -> dict:
    from perfbench.layers import PER_LAYER, host_layer_values, self_time_values, share_of_op

    vals = {k: 0.0 for k in PER_LAYER}
    vals.update(layers)
    vals["session.start_s"] = tracer.median("session.start")
    vals.update(self_time_values(tracer))
    vals.update(host_layer_values(timed, nproc))
    vals["layers.share_of_op"] = share_of_op(vals, timed)
    return {k: {"value": vals[k], "unit": u} for k, u in PER_LAYER.items()}


def _report(args, wl, ops, timed, errors, notes, metrics, n_timed, warmup, nproc,
            tracer) -> None:
    busy = sum(o.get("busy", 0.0) for o in timed)
    steal = sum(o.get("steal", 0.0) for o in timed)
    total = sum(o.get("cpu_total", 0.0) for o in timed) or 1.0
    walls = [o.get("wall") for o in ops]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"master=local[{nproc}] jvm_heap={args.jvm_heap} ops: 1 first + "
          f"{warmup} warm-up + {n_timed} timed (closed loop, one client)")
    print("setup s: " + ", ".join(f"{n} {tracer.median(n):.2f}" for n in
                                  ("setup.generate", "session.start", "setup.register")))
    print("op walls s (steal removed): " + " ".join(f"{w:.2f}" if w else "fail" for w in walls))
    print("op walls s (as clocked):    " + " ".join(
        f"{o['wall_raw']:.2f}" if "wall_raw" in o else "fail" for o in ops))
    print("steal share per op:         " + " ".join(
        f"{o['steal'] / (o['busy'] + o['steal']):.3f}" if "busy" in o else "fail" for o in ops))
    for name, m in metrics.items():
        n = f"n={len(timed)}" if name in END_TO_END else ""
        print(f"  {name:32s} {m['value']:>14.4f} {m['unit']:6s} {n}")
    print(f"  host.steal_pct {100 * steal / total:.2f}  proc.cpu_util "
          f"{busy / max(sum(o['wall_raw'] for o in timed), 1e-9) / nproc:.3f}  "
          f"op_fail_rate {sum(not o['ok'] for o in ops) / max(len(ops), 1):.4f}")
    line = f"  keep_rate {wl.keep_rate:.4f}  digest {','.join(sorted(wl.digests))}"
    if wl.dedup:
        line += f"  dedup_recall {wl.dedup.recall:.4f}  dedup_precision {wl.dedup.precision:.4f}"
    print(line)
    print("  tail percentiles: none (fewer than ten samples beyond p90)")
    for n in notes:
        print(f"  {n}")
    for e in errors:
        print(f"  CHECK FAILED: {e}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
