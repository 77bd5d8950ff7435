"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``ingest_backlog`` (streaming job, see ingest.py) and
``query_mix`` (batch registry queries, see querymix.py).
The program runs on ``local[<host cpus>]`` through its own session
factory.  Correctness is checked on every run, outside the timed region.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  The lines before it record the
deployment settings and, under the workload's own metric names, the
same numbers.  A traced run also writes its spans to
``.perfbench_traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

# the benchmark's modules, and the program from this checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import ROOT, HostSpeed, RssSampler, RunDir, Tracer, metric, spark_session, stop_spark  # noqa: E402

WORKLOADS = ("ingest_backlog", "query_mix")
E2E = ("setup_s", "peak_rss_mb", "heap_live_mb", "throughput_per_s")


def layer_metrics() -> dict[str, str]:
    """Every per-layer metric and its unit; a workload reports 0 for a
    layer it does not exercise."""
    from querymix import LAYERS, QUERIES

    units = {
        "session.start_s": "s",
        "sources.input_rows_per_event": "ratio",
        "sources.lag_s_p50": "s",
        "sources.parse_s": "s",
        "plans.sales.aggs_s": "s",
        "streaming.runner.batches": "count",
        "streaming.runner.trigger_s_p50": "s",
        "streaming.runner.planning_s": "s",
        "streaming.runner.offset_log_s": "s",
        "streaming.runner.add_batch_s": "s",
        "streaming.state_rows": "count",
        "streaming.state_bytes": "bytes",
        "streaming.sinks.write_batch_s": "s",
        "streaming.sinks.write_batch_s_p50": "s",
        "streaming.sinks.merge_s": "s",
        "streaming.sinks.merges_per_batch": "ratio",
        "streaming.sinks.failed_batches": "count",
        "streaming.sinks.static_write_s": "s",
        "reference.local1_events_per_s": "1/s",
        "host.speed_factor": "ratio",
    }
    for q in QUERIES:
        units[f"query.{q}_s"] = "s"
    for layer in LAYERS:
        units[f"{layer}_s"] = "s"
    for q in QUERIES:
        for k in ("jobs", "stages", "tasks"):
            units[f"spark.{q}.{k}"] = "count"
    units["spark.failed_tasks"] = "count"
    for span in SPANS:
        units[f"self.{span}_s"] = "s"
    units["trace.spans"] = "count"
    units["trace.overhead_s"] = "s"
    for m in E2E:
        if m != "setup_s":
            units[f"traced.{m}"] = E2E_UNITS[m]
    return units


SPANS = ("session.start", "generate", "streaming.runner.start", "streaming.sinks.write_batch",
         "streaming.sinks.merge", "registry.query", "registry.oracle_check")
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "heap_live_mb": "MB", "throughput_per_s": "1/s"}


class Context:
    def __init__(self, args, run: RunDir, tracer: Tracer, rss: RssSampler):
        self.seed, self.seconds, self.run, self.tracer, self.rss = args.seed, args.seconds, run, tracer, rss
        self.speed = HostSpeed()
        self.setup_probe_s = 0.0
        self.trace_id = f"{args.workload}-{args.seed}"
        self.setup_done: float | None = None
        self.setup_excluded_s = 0.0  # benchmark work inside set-up: generation, oracle checks
        self.heap_mb: float | None = None
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict = {}
        self.aliases: dict = {}
        self.layers: dict = {}
        self.notes: dict = {}
        self.reference_run = None  # run by a traced run after the session stops

    def mark_setup_done(self) -> None:
        self.setup_done = time.time()
        self.setup_probe_s = self.speed.spent_s


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="flink_ecommerce_spark benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # the program under test must be in this checkout
    if not os.path.isfile(os.path.join(ROOT, "flink_ecommerce_spark", "job.py")):
        print("flink_ecommerce_spark/ not found next to perfbench/", file=sys.stderr)
        return 2

    run = RunDir(args.workload, args.seed)
    tracer = Tracer(bool(args.trace))
    rss = RssSampler().start()
    ctx = Context(args, run, tracer, rss)
    spark = None
    try:
        with tracer.span("session.start", ctx.trace_id):
            t0 = time.perf_counter()
            spark = spark_session(run, f"perfbench-{args.workload}")
            ctx.layers["session.start_s"] = time.perf_counter() - t0
        ctx.speed.probe(spark, None, times=10)
        ctx.speed.probe(spark, "setup", times=3)
        if args.workload == "query_mix":
            from querymix import run_query_mix

            run_query_mix(spark, ctx)
        else:
            from ingest import run_backlog

            run_backlog(spark, ctx)
        peak = rss.stop()
        if args.trace:
            overhead = tracer.overhead_s()
            if ctx.reference_run:
                stop_spark(spark)
                spark = None
                ctx.reference_run()
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)
        run.remove()

    if not ctx.e2e or ctx.setup_done is None or ctx.heap_mb is None:
        print("workload produced no measurements: " + "; ".join(ctx.problems), file=sys.stderr)
        return 1
    # gated timings read as on the reference host speed (see HostSpeed):
    # set-up by the median set-up probe, throughput by the probe before
    # each drain or query; the second line also prints them as measured
    setup_wall = ctx.setup_done - T_PROCESS - ctx.setup_excluded_s - ctx.setup_probe_s
    ctx.e2e["setup_s"] = metric(setup_wall / ctx.speed.factor("setup"), "s")
    ctx.e2e["peak_rss_mb"] = metric(peak, "MB")
    ctx.e2e["heap_live_mb"] = metric(ctx.heap_mb, "MB")
    ctx.layers["host.speed_factor"] = ctx.speed.factor("measure")
    aliases = {
        **ctx.aliases,
        **ctx.e2e,
        "setup_wall_s": metric(setup_wall, "s"),
        "host_speed_setup": metric(ctx.speed.factor("setup"), "ratio"),
        "host_speed_measure": metric(ctx.speed.factor("measure"), "ratio"),
        "failed_frac": metric(ctx.failed / max(ctx.attempted, 1), "ratio"),
    }
    ctx.notes["host_probe_s"] = ctx.speed.samples
    print(json.dumps({"settings": run.record(), "notes": ctx.notes}))
    print(json.dumps({"workload": args.workload, "metrics": aliases}))
    for msg in ctx.problems:
        print(f"correctness: {msg}", file=sys.stderr)

    if args.trace:
        units = layer_metrics()
        for span, secs in tracer.self_times().items():
            if f"self.{span}_s" in units:
                ctx.layers[f"self.{span}_s"] = secs
        ctx.layers["trace.spans"] = len(tracer.spans)
        ctx.layers["trace.overhead_s"] = overhead
        for m in E2E[1:]:
            ctx.layers[f"traced.{m}"] = ctx.e2e[m]["value"]
        trace_dir = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{ctx.trace_id}.json"))
        metrics = {k: metric(ctx.layers.get(k, 0.0), u) for k, u in units.items()}
    else:
        metrics = {k: ctx.e2e[k] for k in E2E}
    print(json.dumps({
        "correct": not ctx.problems,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
