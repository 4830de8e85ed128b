"""Pipeline benchmark: the RAG ingest, the ERCOT daily backfill and a
corpus query mix, run end to end through the engine's public entry points.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Each run starts one Spark session with
pinned settings, builds its inputs from the seed, makes untimed warm
passes that also check the outputs, then measures for ``--seconds``
seconds (at least one full pass of the workload; a traced run makes
exactly one pass, so its per-layer totals always cover the same work).
Lines before the last
one are a readable report; the last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes its spans and every layer metric to
``.bench_work/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {"setup_s": "s", "pass_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "jvm.gc_s": "s", "jvm.jit_cpu_s": "s", "jvm.task_cpu_s": "s", "python.worker_cpu_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.pass_s": "s", "trace.unattributed_share": "ratio",
}


class Context:
    """What a workload sees: the session, its seed and time budget, the
    work directory, the failure tally and the tracer."""

    def __init__(self, args, root: str, work: str, tracer):
        self.seed = args.seed
        self.traced = bool(args.trace)
        # a traced run makes exactly one pass
        self.seconds = 0.0 if self.traced else args.seconds
        self.root = root
        self.data = os.path.join(work, "data")
        self.tally = harness.Tally()
        self.tracer = tracer
        self.spark = None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, harness.ENGINE_PACKAGE)):
        print(f"perfbench: no {harness.ENGINE_PACKAGE}/ in {root}; run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = harness.make_work_dir(root)
    try:
        tally, report, metrics = run(args, root, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in report["named"].items():
        print(f"{args.workload:15s} {name:24s} {value!r:>24} {unit}")
    print("report " + json.dumps(report, default=str))
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0


def run(args, root: str, work: str, t_start: float):
    """One run: session, inputs, warm pass, timed pass; returns the tally,
    the report and the metrics of the last line."""
    harness.point_env_at(root, work)
    # the traced run's encoder wrapper is unpickled on the Python workers
    os.environ["PYTHONPATH"] += os.pathsep + HERE

    import tracing

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = tracing.Tracer(run_id, enabled=bool(args.trace))
    ctx = Context(args, root, work, tracer)
    wl = workloads.WORKLOADS[args.workload]
    conf = harness.session_settings(work, ctx.traced)
    spark = None
    try:
        # inputs are built while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(wl.prepare, ctx)
            with tracer.span("session.start"):
                t0 = time.perf_counter()
                spark = ctx.spark = harness.start_session(conf)
                session_start_s = time.perf_counter() - t0
            state = inputs.result()
        pid = harness.jvm_pid(spark)
        if ctx.traced:
            tracer.instrument(spark)
            tracer.hooks["sinks.upsert.parquet_upsert"] = tracing.UpsertHook()
            embed = tracer.hooks["functions.embedding.make_embed_udf"] = tracing.EmbedHook(spark)
        with tracer.span("bench.setup"):
            wl.warm(ctx, state)
        setup_s = time.perf_counter() - t_start
        if ctx.traced:
            embed.reset()
            listener, streams = tracing.streaming_listener(spark)

        cpu0 = harness.jvm_thread_cpu(pid), harness.process_tree_cpu(harness.descendants(pid))
        with tracer.span("bench.pass") as root_span:
            result = wl.measure(ctx, state)
        cpu1 = harness.jvm_thread_cpu(pid), harness.process_tree_cpu(harness.descendants(pid))
        rss_mb = harness.peak_rss_mb([pid] + harness.descendants(pid))
        if ctx.traced:
            time.sleep(0.5)  # let accumulator and listener updates arrive
            spark.streams.removeListener(listener)
            tracer.uninstrument()
            layer = {
                "session.start_s": session_start_s,
                "process.peak_rss_mb": rss_mb,
                "jvm.gc_s": cpu1[0]["gc"] - cpu0[0]["gc"],
                "jvm.jit_cpu_s": cpu1[0]["jit"] - cpu0[0]["jit"],
                "jvm.task_cpu_s": cpu1[0]["task"] - cpu0[0]["task"],
                "python.worker_cpu_s": cpu1[1] - cpu0[1],
                "functions.embedding.rows": embed.rows.value,
                "functions.embedding.udf_s": embed.secs.value,
                "streaming.batches": streams["batches"],
                "streaming.batch_s": streams["batch_s"],
                **wl.layer_counts(ctx, state),
            }
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            harness.stop_session(spark)
        teardown_s = time.perf_counter() - t_stop

    tally = ctx.tally
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "settings": {k: conf[k] for k in ("spark.master", "spark.driver.memory",
                                          "spark.sql.shuffle.partitions")},
        "inputs": state["inputs"],
        "named": {**result["named"], "failed_ratio": [tally.failed_ratio, "ratio"],
                  "peak_rss_mb": [rss_mb, "MB"], "setup_s": [setup_s, "s"]},
        "failures": tally.reasons,
        "teardown_s": teardown_s,
    }
    end_to_end = {"setup_s": setup_s, "pass_s": result["pass_s"]}
    if not ctx.traced:
        return tally, report, {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end.items()}

    # spans and the event log -> per-layer metrics of the timed pass
    spans = tracer.spans
    work_by_span = tracing.attribute_jobs(tracing.read_event_log(os.path.join(work, "eventlog")), spans)
    pass_spans = tracing.subtree(spans, root_span.id)
    selfs = tracing.self_times(spans)
    for k, v in tracing.sum_spark(work_by_span, [s.id for s in pass_spans]).items():
        layer[f"spark.{k}"] = v
    # the traced run's pass_s, defined as the untraced one: against it,
    # the tracing overhead
    layer["trace.pass_s"] = result["pass_s"]
    layer["trace.unattributed_share"] = selfs[root_span.id] / root_span.duration
    layer.update(tracing.layer_metrics(pass_spans, work_by_span))
    report["layers"] = tracing.layer_table(pass_spans, selfs, work_by_span)
    report["layer_metrics"] = layer
    out_dir = os.path.join(root, ".bench_work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"{run_id}.json"),
                {"report": report, "end_to_end": end_to_end,
                 "job_attribution": {str(k): v for k, v in work_by_span.items()}})
    return tally, report, {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}


if __name__ == "__main__":
    raise SystemExit(main())
