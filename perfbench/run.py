"""Benchmark entry point.

    python3 perfbench/run.py --workload sketch_build --seed 1 --seconds 10 --trace 0

Runs one workload in one process against Spark at local[2] and prints,
as its last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it carries
the run's details (samples, CPU control readings, throttle flag).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the first set-up in a fresh JVM also pays for the first Spark job and
# the Python workers' start; setup_s is the median of the ones after it
SETUP_REPEATS = 3
# the median of one pass is one pass's noise; the loop runs past
# --seconds when a pass is that long
MIN_PASSES = 2
CORES = 2
# single-core control (bench.cpu_control_sample) readings below this, or a
# post-run reading this much below the pre-run one, flag the run throttled
HEALTHY_CONTROL_FLOOR = 300.0
CONTROL_DROP = 0.75

KERNELS = ("hll", "cms", "kll", "tdigest", "bloom")
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
)
LAYERS = (
    "sources", "suite", "agg", "sql_sketch", "windowed_sketch", "lineage",
    "ingest", "dedup", "harness",
)
END_TO_END = ("setup_s", "pass_s")
PER_LAYER: dict[str, str] = {
    "sources.generate_s": "s",
    "sources.scan_s": "s",
    "suite.prepare_s": "s",
    "arrow.passthrough_s": "s",
    "arrow.bytes_to_python": "B",
    "arrow.python_time_s": "s",
    **{f"sketch.{k}.update_rows_per_s": "rows/s" for k in KERNELS},
    **{f"sketch.{k}.merge_s": "s" for k in KERNELS},
    **{f"sketch.{k}.state_bytes": "B" for k in KERNELS},
    "agg.build_s": "s",
    "agg.tree_merge_s": "s",
    "agg.partial_states": "count",
    "agg.state_bytes": "B",
    **{f"sql_sketch.{k}_s": "s" for k in KERNELS},
    "windowed_sketch.crash_s": "s",
    "windowed_sketch.resume_s": "s",
    "windowed_sketch.merge_s": "s",
    "windowed_sketch.rollup_s": "s",
    "windowed_sketch.idempotent_s": "s",
    "windowed_sketch.ledger_bytes": "B",
    "windowed_sketch.resume_rows": "count",
    "lineage.crash_s": "s",
    "lineage.resume_s": "s",
    "lineage.groups_rebuilt": "count",
    "ingest.store_read_s": "s",
    "ingest.probe_s": "s",
    "ingest.delta_write_s": "s",
    "ingest.store_bytes": "B",
    "ingest.survivor_ratio": "ratio",
    "ingest.planted_drop_ratio": "ratio",
    "ingest.leaked_persisted_rdds": "count",
    "dedup.oph_signatures_s": "s",
    **{f"spark.{k}": ("B" if k.endswith("bytes") else "s" if k.endswith("_s") else "count")
       for k in SPARK_COUNTERS},
    "spark.jvm_peak_rss_mb": "MB",
    "spark.leaked_persisted_rdds": "count",
    "spark.session_start_s": "s",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "phase.build_s": "s",
    "phase.sql_build_s": "s",
    "phase.crash_build_s": "s",
    "phase.resume_s": "s",
    "phase.batch_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
    "host.cpu_control": "units/s",
    "host.cpu_control_post": "units/s",
    "host.throttled": "flag",
}
# span name -> per-layer metric (the span's self time)
SPAN_METRICS = {
    "suite.prepare": "suite.prepare_s",
    "agg.build": "agg.build_s",
    "agg.tree_merge": "agg.tree_merge_s",
    **{f"sql_sketch.{k}": f"sql_sketch.{k}_s" for k in KERNELS},
    "windowed_sketch.crash": "windowed_sketch.crash_s",
    "windowed_sketch.resume": "windowed_sketch.resume_s",
    "windowed_sketch.merge": "windowed_sketch.merge_s",
    "windowed_sketch.rollup": "windowed_sketch.rollup_s",
    "windowed_sketch.idempotent": "windowed_sketch.idempotent_s",
    "lineage.crash": "lineage.crash_s",
    "lineage.resume": "lineage.resume_s",
    "ingest.store_read": "ingest.store_read_s",
    "ingest.probe": "ingest.probe_s",
    "ingest.delta_write": "ingest.delta_write_s",
    "dedup.oph_signatures": "dedup.oph_signatures_s",
    "sources.scan": "sources.scan_s",
    "arrow.passthrough": "arrow.passthrough_s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test runs at toy scale)")
    ap.add_argument("--inject-wrong-answer", action="store_true",
                    help="corrupt one exact answer after set-up (self-test)")
    return ap.parse_args(argv)


def start_spark(work: str):
    from associationabacminer_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        cores=CORES,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )


def _children(pid: int) -> set[int]:
    out: set[int] = set()
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.update(int(c) for c in f.read().split())
        except OSError:
            pass
    for child in list(out):
        out |= _children(child)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until it and its Python workers exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spawned = _children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    for pid in spawned:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


def kernel_metrics(seed: int) -> dict[str, float]:
    """Driver-side update throughput, merge time and state size of each
    kernel over seeded column-shaped arrays, split into eight partials
    the way a build over eight partitions would see them."""
    import numpy as np

    from associationabacminer_spark.sketch import (
        BloomFilter, CountMinSketch, HyperLogLog, KLL, TDigest,
    )
    from inputs import kernel_inputs

    data = kernel_inputs(seed)
    kernels = {
        "hll": (HyperLogLog, "conv_h"),
        "cms": (lambda: CountMinSketch(width=4096, depth=5), "tool_h"),
        "kll": (lambda: KLL(k=200), "text_len"),
        "tdigest": (lambda: TDigest(delta=200), "latency_s"),
        "bloom": (lambda: BloomFilter.from_capacity(2_000_000, 0.01), "conv_h"),
    }
    out = {}
    for name, (make, column) in kernels.items():
        parts = np.array_split(data[column], 8)
        t0 = time.perf_counter()
        states = [make().update_batch(p) for p in parts]
        update_s = time.perf_counter() - t0
        merged = states[0]
        t0 = time.perf_counter()
        for s in states[1:]:
            merged = type(merged).merge(merged, s)
        out[f"sketch.{name}.merge_s"] = time.perf_counter() - t0
        out[f"sketch.{name}.update_rows_per_s"] = len(data[column]) / update_s
        out[f"sketch.{name}.state_bytes"] = len(merged.serialize())
    return out


def traced_extras(wl, tracer, status) -> dict[str, float]:
    """Layer probes outside the pass: a full scan of the workload's input
    into a noop sink, and an identity mapInPandas over its Arrow input
    (bytes and time across the Python boundary)."""
    with tracer.span("sources.scan"):
        wl.scan_input().write.format("noop").mode("overwrite").save()
    df = wl.arrow_input()
    mark = status.mark()
    with tracer.span("arrow.passthrough"):
        df.mapInPandas(lambda it: it, schema=df.schema).write.format("noop").mode(
            "overwrite"
        ).save()
    boundary = status.python_boundary_since(mark)
    if hasattr(wl, "traced_extras"):
        wl.traced_extras(status)
    return {
        "arrow.bytes_to_python": boundary["bytes_to_python"],
        "arrow.python_time_s": boundary["python_time_s"],
    }


def run_workload(args, spark, work: str) -> dict:
    from checks import Checks
    from tracing import SparkStatus, Tracer
    from workloads import WORKLOADS

    tracer = Tracer(enabled=False)
    checks = Checks()
    status = SparkStatus(spark)
    wl = WORKLOADS[args.workload](spark, tracer, checks, work, args.seed, args.scale)

    timeline = {}
    setups = [wl.setup() for _ in range(SETUP_REPEATS)]
    t0 = time.perf_counter()
    wl.load()
    if args.inject_wrong_answer:
        wl.inject_wrong_answer()
    wl.warm()
    status.release_persisted()
    timeline["warm_s"] = time.perf_counter() - t0

    passes: list[float] = []
    phases: dict[str, list[float]] = {}
    leaked: list[int] = []
    start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - start < args.seconds:
        t0 = time.perf_counter()
        ph = wl.one_pass()
        passes.append(time.perf_counter() - t0)
        for k, v in ph.items():
            phases.setdefault(k, []).append(v)
        leaked.append(status.persisted_rdds())
        status.release_persisted()
        wl.after_pass()

    timeline["timed_s"] = time.perf_counter() - start
    result = {
        "timeline": timeline,
        "passes": passes,
        "phases": {k: median(v) for k, v in phases.items()},
        "leaked_persisted_rdds": leaked,
        "setup": setups,
        "end_to_end": {
            "setup_s": median(sum(s.values()) for s in setups[1:]),
            "pass_s": median(passes),
        },
    }
    if args.trace:
        result["per_layer"] = traced_pass(wl, tracer, status, result)
    result["checks"] = {"attempted": checks.attempted, "failed": checks.failed,
                        "failures": checks.failures[:20]}
    return result


def traced_pass(wl, tracer, status, result) -> dict[str, float]:
    tracer.enabled = True
    tracer.pass_id = len(result["passes"])
    mark = status.mark()
    t0 = time.perf_counter()
    with tracer.span("harness.pass"):
        wl.one_pass()
    traced_s = time.perf_counter() - t0
    counters = status.counters_since(mark)
    status.release_persisted()
    wl.after_pass()
    tracer.pass_id = None
    layer = {f"spark.{k}": v for k, v in counters.items()}
    layer.update(traced_extras(wl, tracer, status))
    layer.update(kernel_metrics(wl.seed))
    layer.update(wl.layer)
    totals = tracer.totals()
    for span_name, metric in SPAN_METRICS.items():
        if span_name in totals:
            layer[metric] = totals[span_name][1]
    for name, self_s in tracer.self_by_layer().items():
        layer[f"self.{name}_s"] = self_s
    layer["sources.generate_s"] = median(s["generate_s"] for s in result["setup"][1:])
    for k, v in result["phases"].items():
        layer[f"phase.{k}"] = v
    # the traced pass checkpoints build_sketches itself, so only untraced passes count
    layer["spark.leaked_persisted_rdds"] = max(result["leaked_persisted_rdds"])
    layer["spark.jvm_peak_rss_mb"] = status.jvm_peak_rss_mb()
    layer["trace.overhead_s"] = traced_s - result["end_to_end"]["pass_s"]
    layer["trace.spans"] = len(tracer.spans)
    tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-{wl.name}-{wl.seed}.json"))
    return layer


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # fail before any output when the package is not beside the benchmark
    import associationabacminer_spark  # noqa: F401
    from bench import cpu_control_sample
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        control_pre = cpu_control_sample()
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        try:
            result = run_workload(args, spark, work)
        finally:
            stop_spark(spark)
        control_post = cpu_control_sample()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    throttled = (
        min(control_pre, control_post) < HEALTHY_CONTROL_FLOOR
        or control_post < CONTROL_DROP * control_pre
    )
    host = {"cpu_control": control_pre, "cpu_control_post": control_post,
            "throttled": throttled, "session_start_s": session_s,
            "wall_s": time.perf_counter() - started}
    if args.trace:
        layer = result["per_layer"]
        layer["spark.session_start_s"] = session_s
        layer["host.cpu_control"] = control_pre
        layer["host.cpu_control_post"] = control_post
        layer["host.throttled"] = float(throttled)
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(result["end_to_end"][k]), "unit": "s"}
                   for k in END_TO_END}
    details = {k: result[k] for k in ("timeline", "passes", "phases", "setup", "leaked_persisted_rdds", "checks")}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "host": host, **details}))
    checks = result["checks"]
    print(json.dumps({
        "correct": checks["failed"] == 0,
        "attempted": checks["attempted"],
        "failed": checks["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
