"""Pipeline counters, mirroring the reference's monitoring names.

Beats increments ``events.total/filtered/published/failed/dropped``
per pipeline client (``libbeat/publisher/pipeline/monitoring.go:87-113``,
``pipeline/client.go:170-188``) and per-output ``events.acked/...``
(``libbeat/outputs/metrics.go:93-110``).

Here counters ride the single write action via ``DataFrame.observe`` —
zero extra scans at any scale. Per-sink acked counts are conditional
sums over the routed ``sink`` column. These are the only counter names:
batch runs, snapshot sets and streaming micro-batches all record them
through ``beats_spark.pipeline.commit``. A set of several snapshots
observes each counter once per snapshot, over the ``SNAPSHOT`` column,
so every snapshot gets its exact counters from the one write.

The run's counter and lineage rows are a few dozen values the driver
already holds, so the driver writes them itself: one parquet file per
run with pyarrow, written to a dot-prefixed temporary name (which Spark
readers skip) and renamed into place. No Spark job is spent on them, and
the files read with ``spark.read.parquet`` next to the parts older runs
wrote through Spark. The directories must be on the local filesystem,
as the watermark log already is.
"""

from __future__ import annotations

import functools
import os
import unicodedata
from typing import Dict, List, Optional, Sequence, Tuple
from urllib.parse import quote, unquote

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import Observation

__all__ = ["SNAPSHOT", "attach_observation", "metrics_rows",
           "snapshot_metrics", "write_metrics", "write_lineage"]

# the routed frame's column naming each row's snapshot, in a drain of
# several snapshots; observed, never written
SNAPSHOT = "__snapshot"


def attach_observation(df: DataFrame, sinks: List[str],
                       snapshots: Sequence[str] = ()
                       ) -> Tuple[DataFrame, Observation]:
    """Attach Beats-named counters to the routed frame; read them after
    the write action completes. With ``snapshots``, each counter is
    observed once per snapshot, over the rows whose ``SNAPSHOT`` column
    holds its id, and named ``<snapshot id>/<counter>``
    (``snapshot_metrics`` reads them)."""
    obs = Observation("pipeline")
    key = (tuple(sinks), "log_flags" in df.columns)
    if not snapshots:
        return df.observe(obs, *_counters(*key)), obs
    # built per call: a drain's snapshot ids are new every time
    conditions = {"events.total": F.lit(True), **_conditions(*key)}
    return df.observe(obs, *(
        F.sum(F.when((F.col(SNAPSHOT) == sid) & c, 1).otherwise(0))
        .alias(f"{sid}/{name}")
        for sid in snapshots for name, c in conditions.items())), obs


@functools.cache
def _conditions(sinks: Tuple[str, ...], has_flags: bool) -> Dict[str, Column]:
    """The row condition each counter after ``events.total`` counts,
    built once per sink list."""
    flags = (F.col("log_flags") if has_flags
             else F.array().cast("array<string>"))
    return {"events.failed": F.array_contains(flags, "dissect_parsing_error"),
            **{f"output.{s}.events.acked": F.col("sink") == s
               for s in sinks}}


@functools.cache
def _counters(sinks: Tuple[str, ...], has_flags: bool) -> Tuple[Column, ...]:
    """The frame's observed counter expressions, built once per sink
    list."""
    return (F.count(F.lit(1)).alias("events.total"),
            *(F.sum(F.when(c, 1).otherwise(0)).alias(name)
              for name, c in _conditions(sinks, has_flags).items()))


def _counts(got: Dict[str, Optional[int]]) -> Dict[str, int]:
    # events.published = total - dropped-by-filter happens upstream;
    # within the routed frame everything observed was published to a sink
    got["events.published"] = got.get("events.total", 0)
    # sum() over zero rows observes null — an empty input is 0 events
    return {k: int(v or 0) for k, v in sorted(got.items())}


def metrics_rows(obs: Observation) -> List[Tuple[str, int]]:
    return list(_counts(dict(obs.get)).items())


def snapshot_metrics(obs: Observation, snapshots: Sequence[str]
                     ) -> List[Dict[str, int]]:
    """Each snapshot's counters, in ``snapshots`` order, from an
    observation ``attach_observation`` made per snapshot."""
    got = obs.get
    return [_counts({k[len(sid) + 1:]: v for k, v in got.items()
                     if k.startswith(sid + "/")}) for sid in snapshots]


def write_metrics(spark: SparkSession, rows: List[Tuple[str, int]],
                  path: str, run_id: str) -> None:
    """Write the run's ``(run_id, name, value)`` counter rows under
    ``path`` as one driver-written file. ``spark`` is not used; it stays
    in the signature for existing callers. Rewriting a run id replaces
    that run's counters instead of adding a second copy."""
    _write_run_file(pa.table({
        "run_id": pa.array([run_id] * len(rows), pa.string()),
        "name": pa.array([k for k, _ in rows], pa.string()),
        "value": pa.array([v for _, v in rows], pa.int64()),
    }), path, run_id)


def write_lineage(routed_path: str, path: str, run_id: str) -> None:
    """Write one ``(sink, file, count, run_id)`` row per non-empty file
    of the committed ``routed_path/sink=<name>/`` output, counted from
    the parquet footers. ``file`` is the string Spark's
    ``input_file_name()`` gives for that file."""
    rows = []
    for part in sorted(os.listdir(routed_path)):
        if not part.startswith("sink="):
            continue
        value = part[len("sink="):]
        sink = None if value == "__HIVE_DEFAULT_PARTITION__" else unquote(value)
        part_dir = os.path.join(routed_path, part)
        for name in sorted(os.listdir(part_dir)):
            if name.startswith((".", "_")) or not name.endswith(".parquet"):
                continue
            f = os.path.join(part_dir, name)
            n = pq.read_metadata(f).num_rows
            if n:
                rows.append((sink, _file_uri(f), n, run_id))
    sinks, files, counts, run_ids = zip(*rows) if rows else ([],) * 4
    _write_run_file(pa.table({
        "sink": pa.array(sinks, pa.string()),
        "file": pa.array(files, pa.string()),
        "count": pa.array(counts, pa.int64()),
        "run_id": pa.array(run_ids, pa.string()),
    }), path, run_id)


# characters java.net.URI leaves unquoted in a path, besides letters and
# digits; Hadoop builds the file URIs Spark reports with it
_URI_SAFE = "-_.!~*'(),;:$&+=/@"


def _file_uri(path: str) -> str:
    """``file://`` URI of a local path, quoted as Spark quotes it: ``=``
    and the other URI punctuation stay as they are, and non-ASCII
    letters are kept (``pathlib.Path.as_uri`` would quote both)."""
    def q(c: str) -> str:
        if c.isascii() or unicodedata.category(c) in ("Zs", "Zl", "Zp", "Cc"):
            return quote(c, safe=_URI_SAFE)
        return c
    return "file://" + "".join(q(c) for c in os.path.abspath(path))


def _write_run_file(table: pa.Table, path: str, run_id: str) -> None:
    os.makedirs(path, exist_ok=True)
    final = os.path.join(path, f"part-{run_id}.parquet")
    tmp = os.path.join(path, f".part-{run_id}.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, final)
