"""The flagship end-to-end pipeline: harvest → parse → processor-chain →
enrich → route → per-sink outputs, with Beats-named metrics, lineage
and snapshot-watermark resume (BASELINE.json ``north_star``).

Stage → reference mapping:

1. harvest: the pages table scan *is* the harvester
   (``filestream/input.go:178-247``); one input partition ≈ one file.
2. multiline: continuation lines join their event inside each page —
   a regex ``split`` at every line break no whitespace follows, then
   ``posexplode``; an event keeps its first ``MAX_LINES`` lines. Per
   row, **no shuffle** (``multiline/pattern.go``).
3. dissect: the tokenizer's find loop as ``startswith``/``position``/
   ``substr`` expressions, no regex, and typed key columns
   (``dissect.spark.dissect_columns``, the form the ``dissect``
   processor runs too; ``dissect/processor.go``); parse failures →
   dead-letter route.
   Stages 2–7 are Catalyst expressions only: the plan has no Python
   node, so every stage runs in the fused JVM operator chain, as Beats
   runs its processors in the process that holds the queue and outputs.
4. timestamp: layout parse of the extracted ts
   (``timestamp/timestamp.go:87``).
5. enrich: lookups on host and lang — add_fields/geoip/dns emulation
   (SURVEY.md §2.5) — through ``lookup``, the enrich every lookup
   processor runs: a small lookup is folded into the plan as a map
   literal, so a run spends no job on it; a larger one is a broadcast
   join.
6. route: outil first-match-wins selector → ``sink`` column
   (``outil/select.go:209``).
7. output: ``commit`` — ONE pass, ``partitionBy(sink)``, all sinks
   written in a single action with counters observed on it (vs. the
   reference's queue + per-output workers; Spark's shuffle-free dynamic
   partition write is the batch analog). That write is the only Spark
   job: the driver writes the counters, the lineage (from the committed
   files' parquet footers) and a batch run's watermarks. Batch runs,
   snapshot sets and streaming micro-batches all commit through it, as
   every Beats input publishes through one output path; an incremental
   drain commits its pending snapshots as one set, with each snapshot's
   counters observed on the one write and acked on their own, as
   ``input-logfile/publish.go:29-119`` acks each input.

The expressions after the scan are built once — the parse and route
stages once per process here, each enrich step once per lookup frame
in ``lookup`` — and applied as a fixed handful of selects, so a run's
plan costs a few dozen py4j calls, not the ~1,000 a build from scratch
makes.

Scale notes: the only shuffle in the whole plan is none at all — parse
and enrich are map-side (map literal or broadcast), the routed write is
partition-local. Hot-host skew therefore costs nothing here; it matters
only for host-keyed aggregations, where AQE + salting handle it.
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType

from .checkpoint import Watermarks, new_run_id, snapshot_id_of
from .dissect.spark import FLAG_PARSING_ERROR, dissect_columns
from .dissect.tokenizer import Dissector
from .lookup import FOLD_MAX_ROWS, enrich_columns
from .metrics import (SNAPSHOT, attach_observation, metrics_rows,
                      snapshot_metrics, write_lineage, write_metrics)
from .routing import compile_selector

__all__ = ["build_events", "build_routed", "commit", "run_pipeline", "SINKS",
           "TOKENIZER", "FOLD_MAX_ROWS", "CONTINUATION", "MAX_LINES"]

TOKENIZER = 'ts=%{ts} level=%{level} host=%{host} bytes=%{bytes|long} msg="%{msg}"'
SINKS = ["sink_es", "sink_ls", "sink_dropped", "sink_deadletter"]

# Multiline ``pattern: '^\s'``, ``match: after``: a line that starts with
# whitespace continues the event before it. These are the characters
# Python's ``\s`` (``str.isspace()``) accepts besides ``\n`` itself, the
# set ``functions.multiline.segment_lines`` joins on.
CONTINUATION = ("\t\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
                "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008"
                "\u2009\u200a\u2028\u2029\u202f\u205f\u3000")
# an event ends at every line break that no continuation character follows
_EVENT_BREAK = "\n(?![%s])" % "".join(f"\\u{ord(c):04x}" for c in CONTINUATION)
MAX_LINES = 500  # multiline/pattern.go:52-58
_PAGE_COLUMNS = ["url", "warc_ts", "lang"]

# enrich: geo/dns-ish lookup on host (dns/dns.go:80 append semantics,
# tag_on_failure), label lookup on lang; (key, fields, tag_on_failure)
# for host_meta, then lang_meta
_LOOKUPS = (
    ("host", {"geo_country": "geo_country", "geo_city": "geo_city",
              "asn": "asn", "resolved_ip": "resolved_ip",
              "registered_domain": "registered_domain"}, "host_meta_miss"),
    ("lang", {"lang_label": "lang_label", "sink_hint": "sink_hint"}, None),
)


@functools.cache
def _parse_stage() -> Tuple[Column, List[List[Column]], Tuple[str, ...]]:
    """The parse stage, built once: a filter that drops pages without
    text, then three projections that split each page into its events,
    keep an event's first ``MAX_LINES`` lines and dissect; and the names
    of the columns it yields. Catalyst expressions only, so the stage
    runs inside the fused JVM operator chain with no Python worker."""
    page = [F.col(c) for c in _PAGE_COLUMNS]
    # the outer form only for its nullable output: the written schema
    # keeps msg_idx and message optional. A split of a text is never
    # empty, so once null texts are filtered it emits no extra row.
    split = page + [F.posexplode_outer(F.split("text", _EVENT_BREAK, -1))
                    .alias("msg_idx", "message")]
    # the text before the MAX_LINES-th line break: the first MAX_LINES
    # lines, found by a byte scan of the UTF-8 string
    head = page + [F.col("msg_idx"), F.substring_index(
        "message", "\n", MAX_LINES).alias("message")]
    message = F.col("message")
    ok, keys = dissect_columns(message, Dissector(TOKENIZER))
    # the extracted ts becomes event_ts; the other keys keep their names
    dissect = dict(zip(_PAGE_COLUMNS, page), msg_idx=F.col("msg_idx"),
                   message=message)
    dissect.update((k, v.alias(k)) for k, v in keys.items() if k != "ts")
    dissect["log_flags"] = F.when(~ok, F.array(F.lit(FLAG_PARSING_ERROR))) \
        .otherwise(F.array().cast("array<string>")).alias("log_flags")
    dissect["event_ts"] = F.try_to_timestamp(
        keys["ts"], F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")).alias("event_ts")
    return (F.col("text").isNotNull(), [split, head, list(dissect.values())],
            tuple(dissect))


def build_events(pages: DataFrame) -> DataFrame:
    """pages → one row per multiline-joined event, dissect-parsed.

    A filter and three projections of Catalyst expressions
    (``_parse_stage``): the page text splits into events at line breaks
    no continuation character follows, each event keeps its first
    ``MAX_LINES`` lines, and the tokenizer runs as Catalyst string
    functions (``dissect_columns``)."""
    has_text, projections, _ = _parse_stage()
    events = pages.where(has_text)
    for columns in projections:
        events = events.select(*columns)
    return events


@functools.cache
def _route_stage(columns: Tuple[str, ...]) -> List[Column]:
    """The select that adds the deterministic event id
    (fingerprint/fingerprint.go:72) and the outil selector's sink
    (outil/select.go:209) to a frame of ``columns``."""
    event_id = F.sha2(F.concat_ws("|", F.col("url"), F.col("msg_idx")), 256)
    failed = F.array_contains(F.col("log_flags"), FLAG_PARSING_ERROR)
    sink = compile_selector([
        {"index": "sink_deadletter", "when": failed},
        {"index": "sink_dropped", "when": {"equals": {"lang": "zz"}}},
        {"index": "%{[sink_hint]}"},
    ], default="sink_es", columns=[*columns, "event_id"])
    return [F.col("*"), event_id.alias("event_id"), sink.alias("sink")]


def build_routed(pages: DataFrame, host_meta: DataFrame,
                 lang_meta: DataFrame) -> DataFrame:
    """Full parse → enrich → route plan (lazy).

    Every stage's expressions are built once and applied as a fixed
    handful of selects: the parse stage and the route select once per
    process, each enrich step once per lookup frame. Lookups of at most
    ``FOLD_MAX_ROWS`` rows are collected the first time and become map
    literals in the plan; later plans reuse them without a Spark job. A
    larger lookup is a broadcast join between the selects. A caller who
    wants fresh lookup data passes a new frame."""
    return _enrich_and_route(build_events(pages), _parse_stage()[2],
                             host_meta, lang_meta)


def _enrich_and_route(events: DataFrame, columns: Tuple[str, ...],
                      host_meta: DataFrame, lang_meta: DataFrame
                      ) -> DataFrame:
    """The enrich and route stages over parsed ``events`` of
    ``columns``."""
    for lookup, (on, fields, tag) in zip((host_meta, lang_meta), _LOOKUPS):
        # the parsed host and lang columns are strings
        events, columns = enrich_columns(events, columns, StringType(),
                                         lookup, on, on, fields, "append",
                                         tag)
    return events.select(*_route_stage(columns))


@dataclass
class PipelineRun:
    run_id: str
    out_dir: str
    metrics: Dict[str, int] = field(default_factory=dict)
    skipped: bool = False
    snapshot_id: Optional[str] = None
    # a snapshot set's or a drain's runs, one per snapshot
    sub_runs: Optional[list] = None


def commit(routed: DataFrame, routed_path: str, out_dir: str, run_id: str,
           lineage: bool = True, snapshots: Sequence[str] = ()
           ) -> Dict[str, Dict[str, int]]:
    """Land a routed frame and return its counters by run id: the one
    sink-commit routine of batch runs, snapshot sets and streaming
    micro-batches.

    One ``partitionBy(sink)`` overwrite of ``routed_path`` (rewriting
    the same path replaces it) with the counters observed on it; then
    the driver writes them to ``out_dir/metrics/part-<run id>.parquet``
    and, with ``lineage``, the committed files' row counts to
    ``out_dir/lineage/part-<run_id>.parquet``. The write is the only
    Spark job, and rerunning a ``run_id`` leaves one copy of each.

    The counters are the frame's, under ``run_id``; with ``snapshots``,
    each snapshot's, under ``<run_id>-<snapshot id>``, over the rows
    whose ``SNAPSHOT`` column (observed, not written) holds its id.

    ``output.<sink>.events.acked`` covers the four ``SINKS``. Rows a
    ``sink_hint`` routes elsewhere are written, appear in lineage and
    in ``events.total``, but have no acked counter.

    A frame without rows writes no ``sink=`` directory, so the driver
    adds one 0-row file with the routed schema under
    ``sink=<SINKS[0]>``: every run's routed table reads, with the
    same schema.
    """
    routed, obs = attach_observation(routed, SINKS, snapshots)
    if snapshots:
        routed = routed.drop(SNAPSHOT)
    routed.write.mode("overwrite").partitionBy("sink").parquet(routed_path)
    if not any(p.startswith("sink=") for p in os.listdir(routed_path)):
        _write_empty_part(routed.drop("sink").schema,
                          os.path.join(routed_path, f"sink={SINKS[0]}"))
    if snapshots:
        counts = {f"{run_id}-{sid}": m for sid, m in
                  zip(snapshots, snapshot_metrics(obs, snapshots))}
    else:
        counts = {run_id: dict(metrics_rows(obs))}
    for rid, m in counts.items():
        write_metrics(routed.sparkSession, sorted(m.items()),
                      os.path.join(out_dir, "metrics"), rid)
    if lineage:
        write_lineage(routed_path, os.path.join(out_dir, "lineage"), run_id)
    return counts


def _write_empty_part(schema, path: str) -> None:
    """One 0-row parquet file of ``schema`` in directory ``path``; the
    Spark schema rides in the footer, as in the files Spark writes."""
    arrow = to_arrow_schema(schema).with_metadata(
        {"org.apache.spark.sql.parquet.row.metadata": schema.json()})
    os.makedirs(path, exist_ok=True)
    pq.write_table(arrow.empty_table(),
                   os.path.join(path, "part-00000-empty.parquet"))


def _run_set(pages: DataFrame, snapshot_ids: List[str], table,
             host_meta: DataFrame, lang_meta: DataFrame, out_dir: str,
             run_id: str, lineage: bool = True) -> PipelineRun:
    """Commit the snapshot set ``snapshot_ids``, whose rows ``pages``
    holds, in one routed write to ``out_dir/runs/<run_id>/routed``, then
    record each snapshot's watermark with its own counters.

    A set of one is a batch run, its snapshot a literal. In a larger set
    a row's snapshot comes from the file it was read from
    (``table.snapshot_of``). Returns the run of a set of one; else the
    set's run, with summed counters and its snapshots' runs in
    ``sub_runs``."""
    events, columns = build_events(pages), _parse_stage()[2]
    tagged = snapshot_ids if len(snapshot_ids) > 1 else []
    if tagged:
        # tagged before the enrich: input_file_name() takes one file
        # source below it, and a broadcast join with a lookup read from
        # files would add a second
        events = events.select("*", table.snapshot_of(
            F.input_file_name()).alias(SNAPSHOT))
        columns += (SNAPSHOT,)
    counts = commit(_enrich_and_route(events, columns, host_meta, lang_meta),
                    os.path.join(out_dir, "runs", run_id, "routed"), out_dir,
                    run_id, lineage=lineage, snapshots=tagged)
    wm = Watermarks(out_dir)
    runs = []
    for sid, (rid, metrics) in zip(snapshot_ids, counts.items()):
        wm.record(sid, rid, metrics["events.total"])
        runs.append(PipelineRun(run_id=rid, out_dir=out_dir, metrics=metrics,
                                snapshot_id=sid))
    if not tagged:
        return runs[0]
    return PipelineRun(run_id=run_id, out_dir=out_dir, sub_runs=runs,
                       metrics={k: sum(r.metrics[k] for r in runs)
                                for k in runs[0].metrics})


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    host_meta: DataFrame,
    lang_meta: DataFrame,
    out_dir: str,
    snapshot_id: Optional[str] = None,
    lineage: bool = True,
) -> PipelineRun:
    """Execute end-to-end with watermark resume and lineage: ``pages``
    is a snapshot set of one, ``snapshot_id`` (by default a content id
    of its files). A run of a snapshot already watermarked in
    ``out_dir`` is skipped. A frame without input files has no content
    id: its run gets the ad-hoc id ``adhoc-<run id>`` and is never
    skipped.

    Output layout::

        out_dir/runs/<run_id>/routed/sink=<name>/*.parquet
        out_dir/metrics/part-<run_id>.parquet   (run_id, name, value)
        out_dir/lineage/part-<run_id>.parquet   (sink, file, count, run_id)
        out_dir/_watermarks/<run_id>.json

    The routed write is the run's only Spark job; the counters, lineage
    and watermark are written by the driver after it.
    """
    run_id = new_run_id()
    snapshot_id = (snapshot_id or snapshot_id_of(pages)
                   or "adhoc-" + run_id)
    if Watermarks(out_dir).is_processed(snapshot_id):
        return PipelineRun(run_id=run_id, out_dir=out_dir,
                           snapshot_id=snapshot_id, skipped=True)
    return _run_set(pages, [snapshot_id], None, host_meta, lang_meta,
                    out_dir, run_id, lineage)


def run_pipeline_incremental(
    spark: SparkSession,
    pages_table,                      # beats_spark.catalog.Table
    host_meta: DataFrame,
    lang_meta: DataFrame,
    out_dir: str,
    per_snapshot: bool = False,
) -> PipelineRun:
    """Catalog-driven resume: process ONLY the pages-table snapshots
    not yet watermarked (the north_rule's "checkpointed per Iceberg
    snapshot, resumes without reprocessing").

    The pending snapshots are committed as one snapshot set
    (``_run_set``), or with ``per_snapshot`` as sets of one: a Spark
    job per set, and a crash re-processes only the set in flight, under
    a fresh run prefix. Returns the last set's run, with every
    snapshot's run, oldest first, in ``sub_runs``; a snapshot of a
    larger set has run id ``<set run_id>-<snapshot id>``, and its rows
    are in the set's ``runs/<set run_id>/routed``."""
    todo = pages_table.pending(set(Watermarks(out_dir).processed_snapshots()))
    if not todo:
        return PipelineRun(run_id=new_run_id(), out_dir=out_dir, skipped=True)
    size = 1 if per_snapshot else len(todo)
    sets = [_run_set(pages_table.read_snapshots(spark, ids), ids, pages_table,
                     host_meta, lang_meta, out_dir, new_run_id())
            for ids in (todo[i:i + size] for i in range(0, len(todo), size))]
    result = sets[-1]
    result.sub_runs = [r for s in sets for r in s.sub_runs or [s]]
    return result
