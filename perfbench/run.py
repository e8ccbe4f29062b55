"""Workload benchmark for the traffic-forecast engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload forecast_cycle --seed 1 --seconds 5 --trace 0

Workloads: forecast_cycle, corpus_curate, ann_serve (``BENCHMARK.json``
says why each was chosen). One run starts a local Spark session sized by
this script, generates the workload's inputs once (untimed), sets the
workload up several times (the median is ``setup_s``), runs one untimed
warm-up op, then runs ops in a closed loop
for ``--seconds`` (at least ``min_ops`` of them) and checks the outputs.

Output: human-readable metric lines, then, as the last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1``
Spark's event log is on and every second op runs traced (a span and a
Spark job group per layer call, each layer's output materialised); the
metrics are the per-layer ones plus the tracing overhead (median traced
minus median untraced op time). A layer a workload never calls reads 0.

Exits non-zero without a result line when the engine package is not
importable or a run fails outright.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from statistics import median
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Session sizing pinned by the benchmark, not the engine (whose default
# JVM heap is 48g): all cores, a heap that fits a small shared machine,
# and Spark's local directories inside the run's work directory. All
# three override the caller's environment. BENCHMARK.json's command
# records the heap as ``env SPARK_DRIVER_MEM=...``; a test keeps that
# value equal to JVM_HEAP.
JVM_HEAP = "2g"
RUN_TIMEOUT_S = 170
WARMUP_OPS = 1

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_rows_per_s": "1/s",
}

LAYER_TIMES = [
    "sources.json_payload.read",
    "plans.forecast.normalize",
    "plans.forecast.features",
    "ml.predict",
    "sinks.weather_insert",
    "sinks.traffic_insert",
    "sources.csv.probe",
    "plans.detector_prep.prepare",
    "plans.training.build",
    "ml.fit",
    "ml.evaluate",
    "operators.text.quality",
    "operators.text.decontaminate",
    "operators.dedup.near_dedup_filter",
    "operators.sampling.sample",
    "operators.text.pack",
    "sources.writers.export",
    "operators.ann_index.build",
    "operators.ann_index.search",
    "operators.ann_index.append",
    "op",  # the op's own glue: time no layer span covers
]  # each reported as ``<layer>_s``: its self time per op (or set-up rep)
JVM_LAYERS = ["plans.detector_prep.prepare", "plans.training.build", "ml.fit", "ml.evaluate"]
TRACE_COUNTS = {
    "sinks.files": "count",
    "sinks.noop_share": "1",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.pair_precision": "1",
    "tablefmt.snapshot_files": "count",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    names = {f"{layer}_s": "s" for layer in LAYER_TIMES}
    names.update(
        {
            "session.jobs_per_op": "count",
            "session.stages_per_op": "count",
            "session.tasks_per_op": "count",
            "session.shuffle_write_bytes": "B",
            "session.spill_bytes": "B",
            "session.gc_s": "s",
        }
    )
    for layer in JVM_LAYERS:
        names[f"{layer}.shuffle_write_bytes"] = "B"
        names[f"{layer}.spill_bytes"] = "B"
        names[f"{layer}.gc_s"] = "s"
    names.update(TRACE_COUNTS)
    names.update({"trace.untraced_op_s": "s", "trace.traced_op_s": "s", "trace.overhead_s": "s"})
    return names


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _session(work: str, trace: bool, app: str):
    from traffic_forecast_etl_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    return get_spark(app, extra_conf=conf)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _layer_metrics(tracer, spark, log_dir: str, traced_ops: list[int]) -> dict[str, float]:
    from perfbench.trace import JobStats, flush_event_log, read_event_log

    out: dict[str, float] = {}
    for layer in LAYER_TIMES:
        per_op = tracer.self_seconds(layer)
        out[f"{layer}_s"] = median(per_op.values()) if per_op else 0.0

    by_group = read_event_log(flush_event_log(spark, log_dir))
    span_of = {sp.group: sp for sp in tracer.spans}

    def sum_stats(pred) -> JobStats:
        tot = JobStats()
        for group, st in by_group.items():
            sp = span_of.get(group)
            if sp is not None and pred(sp):
                for k in vars(tot):
                    setattr(tot, k, getattr(tot, k) + getattr(st, k))
        return tot

    per_op = [sum_stats(lambda sp, i=i: sp.op == i) for i in traced_ops]
    out["session.jobs_per_op"] = median([s.jobs for s in per_op])
    out["session.stages_per_op"] = median([s.stages for s in per_op])
    out["session.tasks_per_op"] = median([s.tasks for s in per_op])
    out["session.shuffle_write_bytes"] = median([s.shuffle_write_bytes for s in per_op])
    out["session.spill_bytes"] = median([s.spill_bytes for s in per_op])
    out["session.gc_s"] = median([s.gc_ms / 1000 for s in per_op])
    for layer in JVM_LAYERS:  # per op or set-up rep the layer ran in
        ops = sorted({sp.op for sp in tracer.spans if sp.name == layer})
        st = [sum_stats(lambda sp, i=i: sp.op == i and sp.name == layer) for i in ops] or [JobStats()]
        out[f"{layer}.shuffle_write_bytes"] = median([s.shuffle_write_bytes for s in st])
        out[f"{layer}.spill_bytes"] = median([s.spill_bytes for s in st])
        out[f"{layer}.gc_s"] = median([s.gc_ms / 1000 for s in st])
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from perfbench.stats import tail
    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    marks = [("start", time.perf_counter())]
    spark = _session(work, trace, f"perfbench-{workload}")
    marks.append(("session", time.perf_counter()))
    try:
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            wl = WORKLOADS[workload](spark, seed)
            tracer = Tracer(spark.sparkContext) if trace else None
            wl.prepare(os.path.join(work, "inputs"))
            marks.append(("prepare", time.perf_counter()))
            setup_s, prev = [], None
            for r in range(wl.setup_reps):
                d = os.path.join(work, f"setup_{r}")
                if tracer is not None:
                    tracer.begin_op(-1 - r)
                t0 = time.perf_counter()
                wl.setup(d, tracer)
                setup_s.append(time.perf_counter() - t0)
                if prev:
                    shutil.rmtree(prev, ignore_errors=True)
                prev = d

            marks.append(("setup", time.perf_counter()))
            i = 0
            for _ in range(WARMUP_OPS):
                wl.op(i)
                i += 1
            marks.append(("warmup", time.perf_counter()))

            samples: dict[tuple[str, bool], list[tuple[float, int]]] = defaultdict(list)
            attempted = failed = 0
            traced_ops: list[int] = []
            t_start = time.perf_counter()
            # a traced run alternates untraced and traced ops, so it makes twice the ops
            min_ops = wl.min_ops * (2 if trace else 1)
            while attempted < min_ops or time.perf_counter() - t_start < seconds:
                traced = trace and attempted % 2 == 1
                attempted += 1
                if traced:
                    tracer.begin_op(i)
                    traced_ops.append(i)
                try:
                    with tracer.span("op") if traced else nullcontext():
                        res = wl.op(i, tracer if traced else None)
                except Exception:
                    failed += 1
                    traceback.print_exc()
                else:
                    for kind, s, rows in res:
                        samples[(kind, traced)].append((s, rows))
                i += 1
            marks.append(("loop", time.perf_counter()))
            details = wl.finish()
            counts = wl.trace_counts() if trace else {}
        if trace:
            layer = _layer_metrics(tracer, spark, os.path.join(work, "events"), traced_ops)
        marks.append(("finish", time.perf_counter()))
    finally:
        _stop(spark)
    marks.append(("stop", time.perf_counter()))

    ops = samples[("op", False)]
    lat = [s for s, _ in ops]
    report = {
        "setup_s": (median(setup_s), "s"),
        "latency_p50_s": (median(lat), "s"),
        # input rows per second of the median op
        "throughput_rows_per_s": (median([r / s for s, r in ops]), "1/s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "error_rate": (failed / attempted, "1"),
    }
    t = tail(lat)
    if t:
        report["latency_tail_s"] = (t[1], "s")
    appends = [s for s, _ in samples[("append", False)]]
    if appends:
        report["append_p50_s"] = (median(appends), "s")
    report.update(details)
    print(f"{workload} seed={seed} ops={len(lat)} warmup={WARMUP_OPS} "
          f"setup_reps={wl.setup_reps} SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']} "
          f"SPARK_DRIVER_MEM={os.environ['SPARK_DRIVER_MEM']} "
          f"SPARK_LOCAL_DIRS={os.path.relpath(os.environ['SPARK_LOCAL_DIRS'], ROOT)}")
    print("phase seconds: " + ", ".join(
        f"{name} {t - marks[k][1]:.2f}" for k, (name, t) in enumerate(marks[1:])))
    print("setup reps s: " + " ".join(f"{x:.3f}" for x in setup_s))
    print("op latencies s: " + " ".join(f"{x:.3f}" for x in lat))
    if t:
        print(f"latency_tail_s is p{t[0]:g} of {len(lat)} ops")
    else:
        print(f"latency_tail_s: n/a ({len(lat)} ops; a tail needs 11)")
    for name, (value, unit) in report.items():
        print(f"{name} {value:.6g} {unit}")
    for msg in wl.errors:
        print(f"CHECK FAILED: {msg}")

    if trace:
        traced = [s for s, _ in samples[("op", True)]]
        layer.update(counts)
        layer["trace.untraced_op_s"] = median(lat)
        layer["trace.traced_op_s"] = median(traced)
        layer["trace.overhead_s"] = layer["trace.traced_op_s"] - layer["trace.untraced_op_s"]
        units = per_layer_names()
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u in units.items()}
        for n, m in metrics.items():
            print(f"{n} {m['value']:.6g} {m['unit']}")
    else:
        metrics = {n: {"value": float(report[n][0]), "unit": u} for n, u in END_TO_END.items()}
    return {
        "correct": not wl.errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS  # noqa: F401  (fail early on a broken tree)

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    try:
        import traffic_forecast_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = str(ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(
        SPARK_DRIVER_MEM=JVM_HEAP,
        SPARK_GRAFT_CPUS=str(_cpus()),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
    )

    def _timeout(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_TIMEOUT_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_TIMEOUT_S)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
