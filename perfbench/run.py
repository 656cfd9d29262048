#!/usr/bin/env python3
"""Benchmark of the shipped beats_spark pipeline.

Run from the repository root::

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Set-up starts Spark on ``local[<cpus>]``; three times generates the
workload's pages from ``--seed`` into a fresh directory under
``--work-dir`` (default ``.bench_work`` in the current directory) and
commits them to a fresh catalog table; then makes one warm-up call. The
run then times at least three calls into the pipeline, for at least
``--seconds`` seconds, checks every call's output against the
generator, and prints two JSON lines: details (host, set-up parts and
per-call values in run order, sample counts, errors), then the result. With
``--trace 1`` the run also decomposes the pipeline layer by layer,
drives the streaming tail probe, reports per-layer metrics instead of
end-to-end ones, and writes its spans and metrics under
``<work-dir>/traces``. See ``perfbench/README.md``.

Exit status: 0 when every check passed, 1 when one failed, 2 when the
program under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {"setup_s": "s", "pages_per_cpu_s": "pages/cpu-s",
                    "peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("backfill", "snapshots"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work-dir", default=".bench_work")
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiplies every input size (the smoke test "
                        "runs at a small fraction)")
    return p.parse_args(argv)


def start_session(cpus: int, heap_mb: int, work: str):
    from pyspark.sql import SparkSession
    # Python workers import beats_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{heap_mb}m")
             # a committed, touched heap: the peak resident size then
             # moves with non-heap and Python-worker memory, not with
             # the collector's heap-growth decisions
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -Xms{heap_mb}m "
                     "-XX:+AlwaysPreTouch -XX:-UsePerfData "
                     # JIT compiler threads live as long as the JVM, so
                     # their cpu can be told apart (host.jit_cpu_s)
                     "-XX:-UseDynamicNumberOfCompilerThreads")
             .config("spark.local.dir", os.path.join(work, "local"))
             .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
             .config("spark.sql.shuffle.partitions", str(cpus))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# Input set-ups a run makes in its session; ``setup_s`` is the session
# start, plus their median, plus the one warm-up call.
SETUPS = 3

# A timed call during which other tenants stole more than this share of
# the host's busy cpu time ran on a contended host.
STEAL_LIMIT = 0.03


def _median(values):
    return statistics.median(values) if values else None


def run(args) -> int:
    t_begin = time.time()
    sys.path[:0] = [HERE, ROOT]
    try:
        import pyspark
        import beats_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2
    import host
    import layers
    from tracing import Tracer
    from workloads import WORKLOADS, Ctx

    run_id = uuid.uuid4().hex[:8]
    work_root = os.path.abspath(args.work_dir)
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{run_id}")
    os.makedirs(work)
    cpus = host.cpus()
    heap_mb = host.driver_heap_mb()
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "scale": args.scale,
        "host": {"cpus": cpus, "master": f"local[{cpus}]",
                 "driver_heap_mb": heap_mb, **host.meminfo_mb(),
                 "pyspark": pyspark.__version__,
                 "python": sys.version.split()[0]},
        "before": {"loadavg_1m": host.loadavg_1m(),
                   "other_spark_jvms": len(host.spark_jvms())},
    }
    tracer = Tracer(bool(args.trace), run_id)
    spark = sampler = None
    result = None
    try:
        with tracer.span("setup"):
            with tracer.span("setup.session"):
                spark = start_session(cpus, heap_mb, work)
            from pyspark import SparkContext
            jvm_pid = SparkContext._gateway.proc.pid
            sampler = host.RssSampler(jvm_pid)
            # process start (imports included) to a live session
            session_s = time.time() - t_begin
            ctx = Ctx(spark=spark, work=work, seed=args.seed,
                      scale=args.scale, tracer=tracer, jvm_pid=jvm_pid,
                      rss=sampler)
            wl = WORKLOADS[args.workload](ctx)
            reps = []
            # a traced run reports no set-up time: it sets up once
            for k in range(1 if args.trace else SETUPS):
                t0 = time.time()
                with tracer.span("setup.inputs", rep=k):
                    wl.setup()
                reps.append(time.time() - t0)
            t0 = time.time()
            wl.warm_up()
            warmup_s = time.time() - t0
        setup_s = session_s + statistics.median(reps) + warmup_s
        details["setup"] = {"session_s": session_s, "inputs_s": reps,
                            "warmup_s": warmup_s}

        samples = []
        t0 = time.time()
        with tracer.span("measure"):
            # a traced run makes one call: its numbers are the layers'
            while not samples or (not args.trace and (
                    len(samples) < wl.MIN_CALLS
                    or time.time() - t0 < args.seconds)):
                samples.append(wl.timed_call())
        details["measure_s"] = time.time() - t0
        timed = [s for s in samples if s["wall_s"]]
        latencies = [x for s in timed for x in s["latencies"]]
        details["calls"] = ctx.calls
        details["latencies_s"] = latencies
        # ratios of totals over the timed calls weigh each call by its work
        pages = sum(s["pages"] for s in timed)
        wall = sum(s["wall_s"] for s in timed)
        cpu = sum(s["cpu_s"] for s in timed)
        # wall-clock figures, reported but not bounded: on a shared host
        # they follow the other tenants' load (see README)
        details["wall"] = {
            "pages_per_s": pages / wall if timed else None,
            "latency_p50_s": _median(latencies)}
        details["samples"] = {"calls": len(timed),
                              "latencies": len(latencies)}

        if args.trace:
            per_layer = {}
            with tracer.span("layers"):
                try:
                    per_layer.update(layers.decompose(ctx, wl))
                    per_layer.update(layers.stream_probe(ctx))
                except Exception:
                    ctx.fail("layer probe", [traceback.format_exc()])
        details["peak_rss"] = sampler.close()
        # the 1-min load still carries the previous back-to-back run, so
        # only a saturated host or another Spark JVM marks contention
        details["contended"] = (
            details["before"]["loadavg_1m"] > cpus
            or details["before"]["other_spark_jvms"] > 0
            or any(c["other_spark_jvms"] for c in ctx.calls)
            or any((c["steal_share"] or 0) > STEAL_LIMIT for c in ctx.calls))
        details.update(ctx.details)
        details["errors"] = ctx.errors[:10]

        if args.trace:
            metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                       for k, v in sorted(per_layer.items())}
            trace_dir = os.path.join(work_root, "traces")
            stem = os.path.join(trace_dir,
                                f"{args.workload}-seed{args.seed}-{run_id}")
            tracer.write(stem + ".spans.jsonl")
            with open(stem + ".metrics.json", "w") as f:
                json.dump(metrics, f, indent=1, sort_keys=True)
            details["trace_files"] = [stem + ".spans.jsonl",
                                      stem + ".metrics.json"]
        else:
            values = {"setup_s": setup_s,
                      "pages_per_cpu_s": pages / cpu if timed else None,
                      "peak_rss_mb": _median([s["rss_mb"] for s in timed])}
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                       for k, v in values.items()}
        result = {"correct": ctx.failed == 0,
                  "attempted": max(1, ctx.attempted),
                  "failed": ctx.failed, "metrics": metrics}
    finally:
        if sampler is not None:
            sampler.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"details": details}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def main(argv=None) -> int:
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
