"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the seed,
sets the engine up on ``local[min(4, nproc)]``, sends untimed priming
requests where the workload has them, runs one client in a closed loop for
``--seconds`` seconds (at least one whole round), checks every
result, and prints one JSON line last: ``correct``, ``attempted``,
``failed`` and the metrics. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics and writes the span file,
per-layer table, tracing overhead and per-request job counts to
``.perfbench/trace-<workload>-<seed>.json``. Everything the run writes
stays under ``.perfbench/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

WORKLOADS = ("etl_ingest", "sql_serve", "stream_upsert")

# Per-layer metrics of every traced run (the ``per_layer`` list of
# BENCHMARK.json). Request-scoped counters are means per request; a layer
# the workload does not call reads 0. A workload module may add its own
# layers as ``EXTRA_LAYERS``.
PER_LAYER = (
    "session.build_s", "session.prepare_s", "engine.register_tables_s", "warmup_s",
    "prime_s",
    "readers.call_s", "transforms.call_s", "sinks.write_parquet_s", "sinks.output_files",
    "etl.cpu_s_per_mb",
    "request.call_s", "request.action_s", "request.driver_self_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.executor_busy_share", "spark.input_bytes", "spark.output_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "process.peak_rss_mb", "trace.overhead_s", "trace.span_coverage",
)

UNITS = {"_s": "s", "_bytes": "B", "_share": "ratio", "_ratio": "ratio",
         "_amp": "ratio", "_per_mb": "s/MB", "_coverage": "ratio", "_mb": "MB"}


def _unit(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs and one round: the benchmark's own smoke test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "iot_data_pipeline_spark"))):
        print("perfbench: run from the repository root (engine sources not found)",
              file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for p in (root, here):
        if p not in sys.path:
            sys.path.insert(0, p)
    out_dir = os.path.join(root, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Every temporary file of the engine, Spark and Python goes under work/.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = None
    try:
        return _run(args, root, out_dir, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, out_dir: str, work: str) -> int:
    import importlib

    from perfbench import host
    from perfbench.harness import Harness, percentile
    from perfbench.trace import Tracer

    load_before, cpu_before = host.loadavg(), host.cpu_times()
    tracer = Tracer(bool(args.trace))
    h = Harness(root, work, args.seed, 0 if args.tiny else args.seconds, tracer, args.tiny)
    t0 = time.perf_counter()
    module = importlib.import_module(f"perfbench.{args.workload}")
    wl = module.Workload(h)
    t_inputs = time.perf_counter()
    try:
        wl.run()
        extra = wl.layers()
        extra["process.peak_rss_mb"] = host.peak_rss_mb(h.eng.spark)
        e2e = h.end_to_end()
    finally:
        t_stop = time.perf_counter()
        h.stop()
    wall = time.perf_counter() - t0
    print(f"phases: inputs+oracle {t_inputs - t0:.1f}s, setup+run {t_stop - t_inputs:.1f}s"
          f" (loop {h.loop_wall:.1f}s, {len(h.latencies)} requests),"
          f" stop {wall - (t_stop - t0):.1f}s", file=sys.stderr)
    print(f"latencies by kind: {json.dumps(h.by_kind())}", file=sys.stderr)
    if h.latencies:
        print(f"latency p90 {percentile(sorted(h.latencies), 0.9):.4f}s", file=sys.stderr)
    host_block = host.block(root, h.cores, h.mem_mb, args.seed, load_before, cpu_before)
    for f in h.failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    if args.trace:
        names = PER_LAYER + getattr(module, "EXTRA_LAYERS", ())
        metrics, table = _per_layer(h, tracer, extra, names)
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        tracer.write(trace_path, {
            "workload": args.workload,
            "host": host_block,
            "per_layer": table,
            "self_s": tracer.self_times(),
            "tracing_overhead_s": tracer.overhead_s,
            "request_jobs": tracer.request_jobs,
            "request_latency_s": dict(zip(tracer.request_jobs, h.latencies)),
            "run_wall_s": wall,
            "failures": h.failures,
        })
        print(f"trace written to {os.path.relpath(trace_path, root)}", file=sys.stderr)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"host": host_block}), file=sys.stderr)
    print(json.dumps({
        "correct": not h.failures,
        "attempted": h.attempted,
        "failed": len(h.failures),
        "metrics": metrics,
    }))
    return 0


def _per_layer(h, tracer, extra: dict, names):
    n = max(1, len(h.latencies))
    c = {k: v / n for k, v in tracer.counters.items()}
    c.update(h.layer)
    c.update(extra)
    wall = c.get("request.wall_s", 0.0)
    c["spark.executor_busy_share"] = (
        c.get("spark.executor_run_s", 0.0) / (wall * h.cores) if wall else 0.0
    )
    batches = c.get("stream.batches", 0.0)
    c["stream.empty_batch_ratio"] = c.get("stream.empty_batches", 0.0) / batches if batches else 0.0
    c["trace.overhead_s"] = tracer.overhead_s / n
    c["trace.span_coverage"] = tracer.request_coverage()
    metrics = {k: {"value": float(c.get(k, 0.0)), "unit": _unit(k)} for k in names}
    table = {k: c[k] for k in sorted(c)}
    return metrics, table


if __name__ == "__main__":
    sys.exit(main())
