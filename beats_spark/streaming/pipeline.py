"""Structured Streaming form of the shipper pipeline (SURVEY.md §2.10).

The reference's streaming semantics map as:

- at-least-once + ACK-ordered cursor updates
  (``input-logfile/publish.go:29-119``) → Structured Streaming source
  offsets + idempotent ``foreachBatch`` sink commits = effectively-once;
- statestore/registrar resume (``statestore/backend/memlog/store.go``)
  → the query checkpoint directory: a restarted query skips every file
  already committed to the offset log;
- multiline flush timeout / rate-limit buckets (``multiline/pattern.go
  :57``, ``ratelimit/token_bucket.go``) → event-time windows +
  watermarks, and ``applyInPandasWithState`` for the token bucket;
- the memqueue batch boundary (``queue/memqueue/config.go:28-44``) →
  micro-batch triggers (``availableNow`` for drain-the-backlog runs,
  processingTime for tailing).

The same parse → enrich → route expression pipeline from
``beats_spark.pipeline`` is reused verbatim — the JVM-only parse
(regex split + posexplode + the dissect find loop), lookups folded into the
plan (or broadcast joins for large ones) and the when-chain router are
all streaming-safe, and no micro-batch runs a Python worker — and each
micro-batch lands through the batch run's ``commit``: one routed write
with its counters observed on it, then driver-written counters and
lineage. Batch and streaming therefore share one implementation end
to end, the design goal the reference gets by running the same
processor chain and output path under every input.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator, List, Optional, Sequence, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..pipeline import build_routed, commit

__all__ = ["PAGES_SCHEMA", "stream_routed", "run_stream_pipeline",
           "windowed_counters", "stateful_rate_limit",
           "stateful_multiline", "stateful_container_partial"]

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def _concat_chunks(chunks):
    """Concat a group's Arrow chunks, dropping ZERO-LENGTH frames
    first (concatenating an empty frame can perturb dtype inference);
    chunks of one state group share the Arrow schema, so dtypes always
    agree."""
    nonempty = [c for c in chunks if len(c)]
    if not nonempty:
        return chunks[0]
    if len(nonempty) == 1:
        return nonempty[0]
    return pd.concat(nonempty, ignore_index=False)


def stream_routed(spark: SparkSession, input_path: str,
                  host_meta: DataFrame, lang_meta: DataFrame) -> DataFrame:
    """Streaming pages source → routed event stream (lazy). The file
    source is the harvester: each discovered file ≈ one harvested log,
    offsets tracked in the checkpoint instead of the registry."""
    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(input_path)
    return build_routed(pages, host_meta, lang_meta)


def run_stream_pipeline(
    spark: SparkSession,
    input_path: str,
    host_meta: DataFrame,
    lang_meta: DataFrame,
    out_dir: str,
    checkpoint_dir: Optional[str] = None,
    available_now: bool = True,
):
    """Start (and for availableNow: drain) the streaming pipeline.

    Each micro-batch is committed by ``beats_spark.pipeline.commit``,
    as a batch run is, under run id ``batch-<id>``::

        out_dir/routed/batch=<id>/sink=<name>/*.parquet
        out_dir/metrics/part-batch-<id>.parquet   (run_id, name, value)
        out_dir/lineage/part-batch-<id>.parquet   (sink, file, count, run_id)

    The routed write is the micro-batch's only Spark job. A replayed
    batch id rewrites its own three outputs, which with the checkpoint
    offset log gives effectively-once delivery.
    Returns the StreamingQuery (already awaited when available_now).
    """
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    routed = stream_routed(spark, input_path, host_meta, lang_meta)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        commit(batch_df, os.path.join(out_dir, "routed", f"batch={batch_id}"),
               out_dir, f"batch-{batch_id}")

    writer = (routed.writeStream
              .foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime="10 seconds").start()


def windowed_counters(routed: DataFrame, ts_col: str = "warc_ts",
                      window: str = "1 minute",
                      watermark: str = "2 minutes") -> DataFrame:
    """Per-sink windowed event counts with a late-data watermark — the
    streaming form of the pipeline counters (§2.6); late events beyond
    the watermark are dropped exactly like the reference's monitoring
    snapshots ignore late ACKs."""
    return (routed
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("win"),
                     F.col("sink"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("win_start"), "sink", "n"))


def stateful_rate_limit(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    limit_per_key: int,
    burst_multiplier: float = 1.0,
    idle_timeout_ms: Optional[int] = None,
) -> DataFrame:
    """Streaming token bucket (``ratelimit/token_bucket.go:37-65``) via
    ``applyInPandasWithState`` — the SAME continuous-refill semantics
    as the batch ``token_bucket_filter`` (integer micro-tokens, accrue
    ``elapsed × rate`` then withdraw 1), with the bucket state
    ``(tokens, last_event_us)`` carried across micro-batches so a
    restarted query resumes mid-refill. ``limit_per_key`` is tokens
    per second. Late rows (event time before the stored watermark of
    the bucket) accrue nothing and never move the clock backwards.

    ``idle_timeout_ms`` bounds state growth on long-running streams:
    keys quiet for that long are evicted (processing-time timeout) and
    recreated with a FULL bucket (= depth) on next arrival. Because
    accrual is UNCAPPED (like the batch ``token_bucket_filter``), a
    key that idles longer than the TTL forfeits any tokens banked
    ABOVE depth — an evicted key can admit at most ``depth`` on its
    next burst where the exact run would have admitted its whole
    bank. For keys that never bank past depth (any key that stays
    under its rate), eviction with TTL >= ``burst_multiplier``
    seconds is invisible. ``None`` (default) keeps state forever —
    exact, but state-store size then grows with the count of
    distinct keys ever seen.
    Timers keep a drain-style ``availableNow`` query alive after the
    backlog is consumed (it waits to fire them), so pair the TTL with
    a long-running trigger; leave it ``None`` for one-shot drains."""
    out_schema = events.schema
    state_schema = "tokens long, last_us long"
    n = int(limit_per_key)
    scale = 1_000_000  # one token in µtoken·s units (1-second window)
    depth = int(round(n * float(burst_multiplier) * scale))

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            tokens, last = state.get
        else:
            tokens, last = depth, -1
        if idle_timeout_ms is not None and state.hasTimedOut:
            state.remove()
            return
        # one group's micro-batch data can arrive as MULTIPLE Arrow
        # chunks (fetch order, not row order) — concat before the sort
        # or the sequential scan walks time out of order
        chunks = [pdf for pdf in batches]
        if chunks:
            # STABLE sort with a full-row tie-break: ties on the
            # timestamp must admit the same rows on a micro-batch
            # REPLAY even though shuffle fetch order changed
            # (effectively-once requires deterministic admission)
            pdf = _concat_chunks(chunks)
            cols = [ts_col] + [c for c in pdf.columns if c != ts_col]
            try:
                pdf = pdf.sort_values(cols, kind="mergesort")
            except TypeError:  # unorderable column type in tie-break
                pdf = pdf.sort_values(ts_col, kind="mergesort")
            us = (pdf[ts_col].values.astype("datetime64[ns]")
                  .astype("int64") // 1000)
            null_ts = pdf[ts_col].isna().values
            keep = []
            for t, is_null in zip(us, null_ts):
                if not is_null:
                    t = int(t)
                    if last >= 0 and t > last:
                        tokens += (t - last) * n
                    last = max(last, t)
                if tokens >= scale:
                    tokens -= scale
                    keep.append(True)
                else:
                    keep.append(False)
            out = pdf[pd.Series(keep, index=pdf.index).values]
            if len(out):
                yield out
        state.update((int(tokens), int(last)))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(int(idle_timeout_ms))

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if idle_timeout_ms is not None
               else GroupStateTimeout.NoTimeout)
    return (events.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout))


def stateful_multiline(
    lines: DataFrame,
    file_col: str = "path",
    order_col: str = "line_no",
    line_col: str = "message",
    pattern: str = r"^\s",
    negate: bool = False,
    match: str = "after",
    flush_pattern: Optional[str] = None,
    max_lines: int = 500,
    timeout_ms: Optional[int] = 5000,
) -> DataFrame:
    """Streaming multiline join with the reference's FLUSH TIMEOUT —
    the one multiline semantic the batch operator cannot have
    (``multiline/pattern.go:52-58``: ``timeout: 5s``; flush on
    ``flush_pattern``; cap at ``max_lines``).

    Runs :func:`_stateful_join` keyed by ``file_col``, so a
    continuation line arriving in a later batch — or after a query
    restart from the same checkpoint — still joins its event, and a
    processing-time timeout flushes the dangling event when the file
    goes quiet, exactly like the reference's harvester timeout.

    Semantics match the batch joiner: with ``match: after`` a line
    where ``rlike(pattern) != negate`` continues the previous event;
    with ``match: before`` the PREVIOUS line's match decides (its
    result is part of the carried state, so before-mode also works
    across batch boundaries). Anything else starts a new event.
    Output: one row per completed event with the FIRST line's
    ``order_col``.
    """
    import re as _re

    if match not in ("after", "before"):
        raise ValueError(f"match must be 'after' or 'before': {match!r}")
    rx = _re.compile(pattern)
    frx = _re.compile(flush_pattern) if flush_pattern else None

    def marks(pdf, texts):
        return [(bool(rx.search(t)) != negate,
                 frx is not None and frx.search(t) is not None)
                for t in texts]

    return _stateful_join(lines, file_col, order_col, line_col, marks,
                          match=match, max_lines=max_lines,
                          timeout_ms=timeout_ms)


def stateful_container_partial(
    parsed: DataFrame,
    file_col: str = "path",
    order_col: str = "line_no",
    line_col: str = "message",
    timeout_ms: Optional[int] = 5000,
) -> DataFrame:
    """Streaming form of the container parser's ``partial`` option
    (``docker_json.go`` Next loop): a partial run that straddles a
    micro-batch boundary — the CRI ``P`` line lands in one batch, its
    final line in the next — still joins, because the open run rides
    :func:`_stateful_join` keyed by file, with every line a
    continuation and each final line a flush line. A processing-time
    timeout flushes a run whose final line never arrives (the batch
    operator emits dangling runs at end-of-input; a stream has no end,
    so the timeout is the equivalent).

    Input contract: the map-side parse stage —
    ``parse_container(df, combine_partials=False,
    keep_partial_flag=True)`` — which yields ``container_stream``,
    ``container_time`` and the ``container_partial`` marker per line.
    The joined event keeps the FIRST part's stream/timestamp, exactly
    like the batch join and the reference.
    """
    def marks(pdf, texts):
        return [(True, not p) for p in pdf["container_partial"].values]

    return _stateful_join(parsed, file_col, order_col, line_col, marks,
                          separator="", max_lines=None,
                          carry=("container_stream", "container_time"),
                          timeout_ms=timeout_ms)


def _stateful_join(
    lines: DataFrame,
    file_col: str,
    order_col: str,
    line_col: str,
    marks: Callable[[pd.DataFrame, List[str]], List[Tuple[bool, bool]]],
    match: str = "after",
    separator: str = "\n",
    max_lines: Optional[int] = None,
    carry: Sequence[str] = (),
    timeout_ms: Optional[int] = None,
) -> DataFrame:
    """The streaming line joiner, the state-machine form of the batch
    ``functions.multiline._join_runs``: ``applyInPandasWithState``
    keyed by ``file_col`` carries an in-progress event (first line
    number, joined text, line count, the before-mode continuation
    flag, and the first line's ``carry`` values) across micro-batches;
    Spark persists the state and the timeout clock in the checkpoint.

    ``marks(rows, texts)`` gives each line's ``(continues, flushes)``
    in order. A line joins the open event when it flushes or when it
    continues (with ``match: before``, when the line before it
    continued); a flush line then closes the event (the flush check
    precedes the predicate, ``pattern.go:209-220``). Past ``max_lines``
    a line is consumed but dropped (``message_buffer.go`` addLine).
    Rows are ordered by ``order_col`` within a batch; a row with a NULL
    order value is a corrupt source row and is dropped.

    Output: ``file_col``, the first line's ``order_col``, the text as
    ``line_col``, the ``carry`` columns, ``n_lines``.
    """
    types = {c: lines.schema[c].dataType.simpleString() for c in carry}
    columns = [file_col, order_col, line_col, *carry, "n_lines"]
    out_schema = ", ".join([f"{file_col} string", f"{order_col} long",
                            f"{line_col} string",
                            *(f"{c} {t}" for c, t in types.items()),
                            "n_lines long"])
    # cont_next: for before-mode, whether the LAST consumed line's
    # match says the next line continues the event. A carried
    # timestamp is kept as timestamp_ntz: its naive pandas value then
    # round-trips through the state without the worker's time zone
    state_schema = ", ".join([
        "first_no long, buf string, n long, cont_next boolean",
        *(f"{c} {'timestamp_ntz' if t == 'timestamp' else t}"
          for c, t in types.items())])
    before = match == "before"

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        path = key[0]
        if state.hasTimedOut:
            # file went quiet: flush the dangling event (the
            # reference's timeout flush, pattern.go:57)
            if state.exists:
                first_no, buf, n, _, *first = state.get
                state.remove()
                yield pd.DataFrame([(path, first_no, buf, *first, n)],
                                   columns=columns)
            return
        if state.exists:
            first_no, buf, n, cont_next, *first = state.get
        else:
            first_no, buf, n, cont_next = None, None, 0, False
            first = [None] * len(carry)
        done = []
        chunks = [pdf for pdf in batches]
        if chunks:
            # concat before sorting: one group's rows may span several
            # Arrow chunks in fetch order, and state is sequential;
            # int(NaN) of a NULL order value would kill the query
            pdf = _concat_chunks(chunks)
            pdf = pdf[pdf[order_col].notna()].sort_values(order_col)
            texts = ["" if t is None else str(t)
                     for t in pdf[line_col].values]
            carried = [pdf[c].astype(object).values for c in carry]
            for i, (no, line, (cont, flush)) in enumerate(zip(
                    pdf[order_col].values, texts, marks(pdf, texts))):
                cont, cont_next = (cont_next if before else cont), cont
                if buf is not None and (cont or flush):
                    if max_lines is None or n < max_lines:
                        buf += separator + line
                        n += 1
                else:
                    if buf is not None:
                        done.append((path, first_no, buf, *first, n))
                    first_no, buf, n = int(no), line, 1
                    first = [None if pd.isna(v[i]) is True else v[i]
                             for v in carried]
                if flush:
                    done.append((path, first_no, buf, *first, n))
                    first_no, buf, n, cont_next = None, None, 0, False
        if buf is not None:
            state.update((first_no, buf, n, cont_next, *first))
            if timeout_ms is not None:
                state.setTimeoutDuration(int(timeout_ms))
        elif state.exists:
            state.remove()
        if done:
            yield pd.DataFrame(done, columns=columns)

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if timeout_ms is not None else GroupStateTimeout.NoTimeout)
    return (lines.groupBy(file_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout))
