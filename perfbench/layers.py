"""Per-layer measurements for the traced run, taken from outside each
layer by timing calls into its public functions.

- ``decompose``: noop writes over growing prefixes of the plan (scan →
  ``build_events`` → ``broadcast_enrich`` → ``route`` →
  ``attach_observation``), each layer's busy time being the difference
  between adjacent prefixes; then ``run_pipeline`` with lineage off and
  on, a timed ``write_metrics``, and timed ``Watermarks`` and
  ``Table.read_incremental`` calls.
- ``stream_probe``: an open-loop tail of ``run_stream_pipeline`` — pages
  files moved into the watched directory on a fixed schedule, each
  timed from its scheduled arrival to the commit of the micro-batch
  that carried it.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
from collections import Counter
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, Observation, functions as F

from beats_spark.checkpoint import Watermarks
from beats_spark.metrics import attach_observation, metrics_rows, write_metrics
from beats_spark.pipeline import SINKS, build_events, run_pipeline
from beats_spark.processors.enrich import broadcast_enrich
from beats_spark.routing import route
from beats_spark.streaming.pipeline import run_stream_pipeline

import gen
from workloads import Ctx, Workload, gate_output, sample_ids

TRIGGER_S = 10.0             # run_stream_pipeline's processingTime trigger
STREAM_FILES = 68
STREAM_PERIOD_S = 0.137      # does not divide the trigger interval
STREAM_PAGES = 100           # pages per arriving file
STREAM_BASE = 60_000_000     # page ids of the stream probe input

# every per-layer metric a traced run reports, with its unit
UNITS = {
    "scan.busy_s": "s",
    "parse.busy_s": "s", "parse.pages_in": "pages",
    "parse.events_out": "events", "parse.failed_ratio": "ratio",
    "enrich.busy_s": "s", "enrich.miss_ratio": "ratio",
    "routing.busy_s": "s",
    **{f"routing.events.{s}": "events" for s in SINKS},
    "metrics.observe_s": "s", "metrics.write_s": "s",
    "sinks.write_s": "s", "pipeline.lineage_s": "s",
    "sinks.files_written": "files", "sinks.bytes_written": "bytes",
    "pipeline.jobs_per_run": "jobs",
    "checkpoint.lookup_s": "s", "checkpoint.record_s": "s",
    "checkpoint.watermarks": "count",
    "catalog.read_incremental_s": "s", "catalog.snapshots": "count",
    "streaming.batches": "count", "streaming.rows_per_batch": "rows",
    "streaming.add_batch_s": "s", "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s", "streaming.trigger_wait_s": "s",
    "streaming.backlog_files": "files",
    "tail.latency_p50_s": "s", "tail.latency_tail_s": "s",
    "generator.lag_p95_s": "s", "generator.lag_max_s": "s",
}


def _noop(df: DataFrame) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _enrich(events: DataFrame, host_meta: DataFrame,
            lang_meta: DataFrame) -> DataFrame:
    """The enrich stage exactly as ``build_routed`` configures it."""
    events = broadcast_enrich(
        events, host_meta, on="host", lookup_key="host",
        fields={"geo_country": "geo_country", "geo_city": "geo_city",
                "asn": "asn", "resolved_ip": "resolved_ip",
                "registered_domain": "registered_domain"},
        action="append", tag_on_failure="host_meta_miss")
    return broadcast_enrich(
        events, lang_meta, on="lang", lookup_key="lang",
        fields={"lang_label": "lang_label", "sink_hint": "sink_hint"},
        action="append")


def _route(enriched: DataFrame) -> DataFrame:
    """The event id and router exactly as ``build_routed`` configures them."""
    events = enriched.withColumn(
        "event_id",
        F.sha2(F.concat_ws("|", F.col("url"), F.col("msg_idx")), 256))
    failed = F.array_contains(F.col("log_flags"), "dissect_parsing_error")
    return route(events, [
        {"index": "sink_deadletter", "when": failed},
        {"index": "sink_dropped", "when": {"equals": {"lang": "zz"}}},
        {"index": "%{[sink_hint]}"},
    ], default="sink_es")


def _dir_stats(path: str) -> Dict[str, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return {"files": files, "bytes": size}


def decompose(ctx: Ctx, wl: Workload) -> Dict[str, float]:
    spark, tr = ctx.spark, ctx.tracer
    hm, lm = ctx.host_meta, ctx.lang_meta
    pages, n_pages, processed = wl.layer_input()
    m: Dict[str, float] = {}

    with tr.span("layer.scan"):
        scan = _noop(pages.select("url", "warc_ts", "lang", "text"))
    events = build_events(pages)
    with tr.span("layer.parse"):
        t_events = _noop(events)
    enriched = _enrich(events, hm, lm)
    with tr.span("layer.enrich"):
        t_enriched = _noop(enriched)
    routed = _route(enriched)
    with tr.span("layer.routing"):
        t_routed = _noop(routed)
    observed, obs = attach_observation(routed, SINKS)
    miss = Observation("miss")
    observed = observed.observe(miss, F.sum(F.when(F.array_contains(
        F.col("log_flags"), "host_meta_miss"), 1).otherwise(0)).alias("n"))
    with tr.span("layer.observe"):
        t_observed = _noop(observed)
    counts = dict(metrics_rows(obs))
    total = max(1, counts["events.total"])
    m.update({
        "scan.busy_s": scan,
        "parse.busy_s": t_events - scan,
        "parse.pages_in": n_pages,
        "parse.events_out": counts["events.total"],
        "parse.failed_ratio": counts["events.failed"] / total,
        "enrich.busy_s": t_enriched - t_events,
        "enrich.miss_ratio": (miss.get["n"] or 0) / total,
        "routing.busy_s": t_routed - t_enriched,
        "metrics.observe_s": t_observed - t_routed,
    })
    for s in SINKS:
        m[f"routing.events.{s}"] = counts[f"output.{s}.events.acked"]

    path = ctx.fresh_dir("metrics-probe")
    with tr.span("metrics.write_metrics"):
        t0 = time.time()
        write_metrics(spark, sorted(counts.items()), path, "probe")
        m["metrics.write_s"] = time.time() - t0

    with tr.span("pipeline.run_pipeline", lineage=False):
        t0 = time.time()
        run_pipeline(spark, pages, hm, lm, ctx.fresh_dir("nolineage"),
                     lineage=False)
        t_plain = time.time() - t0
    sc = spark.sparkContext
    group = f"perfbench-{ctx.tracer.run_id}"
    sc.setJobGroup(group, "traced run_pipeline")
    out = ctx.fresh_dir("lineage")
    try:
        with tr.span("pipeline.run_pipeline", lineage=True):
            t0 = time.time()
            res = run_pipeline(spark, pages, hm, lm, out, lineage=True)
            t_lineage = time.time() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    written = _dir_stats(os.path.join(out, "runs", res.run_id, "routed"))
    m.update({
        "sinks.write_s": t_plain - t_observed - m["metrics.write_s"],
        "pipeline.lineage_s": t_lineage - t_plain,
        "sinks.files_written": written["files"],
        "sinks.bytes_written": written["bytes"],
        "pipeline.jobs_per_run": len(sc.statusTracker()
                                     .getJobIdsForGroup(group)),
    })

    # checkpoint and catalog against the state a timed call starts from
    wm = Watermarks(wl.last_out or out)
    with tr.span("checkpoint.is_processed"):
        t0 = time.time()
        wm.is_processed("0" * 16)          # a miss scans every watermark
        m["checkpoint.lookup_s"] = time.time() - t0
    m["checkpoint.watermarks"] = len(wm.processed_snapshots())
    with tr.span("checkpoint.record"):
        t0 = time.time()
        wm.record("f" * 16, f"probe-{ctx.tracer.run_id}", 0)
        m["checkpoint.record_s"] = time.time() - t0
    with tr.span("catalog.read_incremental"):
        t0 = time.time()
        wl.table.read_incremental(spark, processed)
        m["catalog.read_incremental_s"] = time.time() - t0
    m["catalog.snapshots"] = len(wl.table.snapshots())
    return m


def _iso_epoch(ts: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _file_batches(checkpoint: str) -> Dict[str, int]:
    """basename → batch id, from the file source's offset log."""
    src = os.path.join(checkpoint, "sources", "0")
    out: Dict[str, int] = {}
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        if not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _commit_time(out: str, batch: int) -> Optional[float]:
    p = os.path.join(out, "routed", f"batch={batch}", "_SUCCESS")
    return os.stat(p).st_mtime if os.path.exists(p) else None


def tail_percentile(values: List[float]):
    """(pct, value): the highest whole percentile with at least ten
    samples beyond it, or the median when there are too few."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return 50, statistics.median(xs)
    pct = math.floor(100 * (n - 10) / n)
    while n - math.ceil(pct * n / 100) < 10:
        pct -= 1
    return pct, xs[math.ceil(pct * n / 100) - 1]


def stream_probe(ctx: Ctx) -> Dict[str, float]:
    spark, tr = ctx.spark, ctx.tracer
    root = os.path.join(ctx.work, "stream")
    staged, watch, out = (os.path.join(root, d)
                          for d in ("staged", "watch", "out"))
    checkpoint = os.path.join(out, "_checkpoint")
    n_files = ctx.scaled(STREAM_FILES, floor=3)
    per_file = ctx.scaled(STREAM_PAGES)
    expected: Counter = Counter()
    names = []
    with tr.span("generate", files=n_files):
        gen.write_pages(os.path.join(watch, "warm.parquet"), ctx.seed,
                        range(STREAM_BASE - per_file, STREAM_BASE))
        for k in range(n_files):
            base = STREAM_BASE + k * per_file
            name = f"pages-{k:03d}.parquet"
            expected += gen.write_pages(os.path.join(staged, name), ctx.seed,
                                        range(base, base + per_file))
            names.append(name)

    q = run_stream_pipeline(spark, watch, ctx.host_meta, ctx.lang_meta, out,
                            checkpoint_dir=checkpoint, available_now=False)
    due: Dict[str, float] = {}
    lags: List[float] = []
    try:
        with tr.span("streaming.first_batch"):
            give_up = time.time() + 60
            while _commit_time(out, 0) is None:
                if (q.exception() is not None or not q.isActive
                        or time.time() > give_up):
                    raise RuntimeError(
                        f"warm-up batch never committed: {q.exception()}")
                time.sleep(0.05)
        # start the schedule just after a trigger boundary, so every
        # file lands in the one batch the next trigger runs and the
        # latency distribution cannot move with the clock's phase
        boundary = math.ceil((time.time() + 0.5) / TRIGGER_S) * TRIGGER_S
        start = boundary + 0.3
        with tr.span("generator.schedule", files=n_files):
            for k, name in enumerate(names):
                t_due = start + k * STREAM_PERIOD_S
                time.sleep(max(0.0, t_due - time.time()))
                os.replace(os.path.join(staged, name),
                           os.path.join(watch, name))
                lags.append(time.time() - t_due)
                due[name] = t_due
        # files still uncommitted two triggers after the last arrival
        # are the backlog
        deadline = start + n_files * STREAM_PERIOD_S + 2 * TRIGGER_S + 10
        with tr.span("streaming.drain"):
            while True:
                fb = _file_batches(checkpoint)
                done = {n: _commit_time(out, fb[n]) for n in names if n in fb}
                if all(done.get(n) for n in names) or time.time() > deadline:
                    break
                if q.exception() is not None:
                    raise RuntimeError(f"stream query failed: {q.exception()}")
                time.sleep(0.1)
        # the query's own progress reports, as a listener receives them;
        # a batch reports after its metrics write and offset commit,
        # which follow the routed output the drain waited for
        wanted = {fb[n] for n in names if done.get(n)}
        while True:
            progress = [{"batch": p.batchId, "rows": p.numInputRows,
                         "duration_ms": dict(p.durationMs),
                         "trigger_at": _iso_epoch(p.timestamp)}
                        for p in q.recentProgress]
            if (wanted <= {p["batch"] for p in progress}
                    or time.time() > deadline):
                break
            time.sleep(0.1)
    finally:
        q.stop()

    committed = {n: t for n, t in done.items() if t}
    backlog = len(names) - len(committed)
    ctx.attempted += len(names)
    ctx.failed += backlog
    latencies = [committed[n] - due[n] for n in names if n in committed]
    for n in names:
        if n in committed:
            tr.record("stream.file", due[n], committed[n], file=n,
                      batch=fb[n])

    batches = sorted({fb[n] for n in committed})
    reports = {b["batch"]: b for b in progress if b["rows"]}
    measured = [reports[b] for b in batches if b in reports]
    if batches:
        problems = gate_output(
            ctx, [os.path.join(out, "routed", f"batch={b}") for b in batches],
            expected, sample_ids(ctx.seed, range(
                STREAM_BASE, STREAM_BASE + n_files * per_file)))
        if problems and not backlog:
            ctx.fail("stream output", problems)

    if not measured:
        ctx.fail("stream probe", ["no progress report for a measured batch"])

    def mean_ms(key: str) -> Optional[float]:
        vals = [b["duration_ms"].get(key, 0) for b in measured]
        return statistics.fmean(vals) / 1000 if vals else None

    waits = [reports[fb[n]]["trigger_at"] - due[n]
             for n in committed if fb[n] in reports]
    pct, tail = tail_percentile(latencies) if latencies else (None, None)
    ctx.details["tail"] = {"latency_samples": len(latencies),
                           "latency_tail_pct": pct,
                           "batches": [{k: b[k] for k in ("batch", "rows")}
                                       for b in measured]}
    shutil.rmtree(root, ignore_errors=True)
    return {
        "streaming.batches": len(measured),
        "streaming.rows_per_batch": (statistics.fmean(b["rows"] for b in measured)
                                     if measured else None),
        "streaming.add_batch_s": mean_ms("addBatch"),
        "streaming.latest_offset_s": mean_ms("latestOffset"),
        "streaming.wal_commit_s": mean_ms("walCommit"),
        "streaming.trigger_wait_s": statistics.median(waits) if waits else None,
        "streaming.backlog_files": backlog,
        "tail.latency_p50_s": (statistics.median(latencies)
                               if latencies else None),
        "tail.latency_tail_s": tail,
        "generator.lag_p95_s": sorted(lags)[math.ceil(0.95 * len(lags)) - 1],
        "generator.lag_max_s": max(lags),
    }
