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
``beats_spark.pipeline`` is reused verbatim — mapInPandas, lookups
folded into the plan (or broadcast joins for large ones) and the
when-chain router are all streaming-safe — and each micro-batch lands
through the batch run's ``commit``: one routed write with its counters
observed on it, then driver-written counters and lineage. Batch and
streaming therefore share one implementation end to end, the design
goal the reference gets by running the same processor chain and
output path under every input.
"""

from __future__ import annotations

import os
from typing import Iterator, Optional, Sequence, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..pipeline import build_routed, commit

__all__ = ["PAGES_SCHEMA", "stream_routed", "run_stream_pipeline",
           "windowed_counters", "stateful_rate_limit",
           "stateful_multiline", "stateful_container_partial",
           "stateful_url_dedup", "stream_dedup_against",
           "stream_sessions", "stream_count_anomalies",
           "stream_countmin", "stream_percolate",
           "stateful_heavy_hitters", "stateful_counter_rates",
           "stateful_ewma_smooth", "stateful_sequence_gaps",
           "stream_seasonal_anomaly", "stateful_rolling_quantile",
           "stateful_cusum", "stateful_slo_burn"]

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


def _drain_sorted_us(batches, ts_col, tie_col):
    """Drain a state group's chunks, sort by (event time, tie
    column) — the family's tied-timestamp discipline — and return
    ``(pdf, epoch-µs int64 array)``; ``(None, None)`` when the group
    delivered nothing. Shared by the event-time stateful kernels so
    the tz-normalize / ns→µs handling lives in ONE place."""
    chunks = [pdf for pdf in batches]
    if not chunks:
        return None, None
    pdf = _concat_chunks(chunks)
    pdf = pdf.sort_values([ts_col, tie_col], kind="mergesort")
    tcol = pdf[ts_col]
    if getattr(tcol.dtype, "tz", None) is not None:
        tcol = tcol.dt.tz_convert("UTC").dt.tz_localize(None)
    us = (tcol.values.astype("datetime64[ns]")
          .astype("int64") // 1000)
    return pdf, us


def _nullable_ints(series):
    """Column → list of Optional[int] — Arrow delivers a long column
    containing NULLs as float64-with-NaN, which ``astype('int64')``
    rejects loudly; the nullable Int64 path keeps NULLs as None so
    each kernel can apply its own NULL rule instead of crashing."""
    return [None if v is pd.NA else int(v)
            for v in pd.array(series, dtype="Int64")]


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


def stream_sessions(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming form of :func:`beats_spark.dataops.events
    .session_rollup`: gap-merged sessions per key via Spark's native
    ``session_window`` — sessions extend ``gap_seconds`` past each
    event and merge across micro-batches; a session finalizes (and
    emits, in append mode) once the watermark passes its close.

    Output ``(key, session_start, session_last, n_events)`` where
    ``session_last`` is the LAST EVENT time (``window.end`` minus the
    gap — ``session_window``'s end is last-event + gap), so boundaries
    line up event-for-event with the batch operator's
    ``session_start``/``session_end``. Same boundary rule too: an
    event arriving exactly ``gap_seconds`` after the previous one
    still merges (the window is inclusive of its end instant).

    State is bounded by the watermark: one open-session row per
    active key, dropped at finalization — the standard streaming
    sessionization shape (late events beyond the watermark are
    discarded, like every windowed op here)."""
    gap = f"{int(gap_seconds)} seconds"
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"),
                     F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col(key_col),
                    F.col("sw.start").alias("session_start"),
                    (F.col("sw.end")
                     - F.expr(f"INTERVAL {int(gap_seconds)} SECONDS"))
                    .alias("session_last"),
                    "n_events"))


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

    ``applyInPandasWithState`` keyed by ``file_col``: an in-progress
    event (its joined text, first line number and line count) is
    carried across micro-batches, so a continuation line arriving in a
    later batch — or after a query restart from the same checkpoint —
    still joins its event. A processing-time timeout flushes the
    dangling event when the file goes quiet, exactly like the
    reference's harvester timeout; Spark persists the state + timeout
    clock in the checkpoint.

    Semantics match the batch joiner: with ``match: after`` a line
    where ``rlike(pattern) != negate`` continues the previous event;
    with ``match: before`` the PREVIOUS line's match decides (its
    result is part of the carried state, so before-mode also works
    across batch boundaries). Anything else starts a new event. Rows
    inside a batch are ordered by ``order_col`` (the file source
    delivers per-file batches in order). Output: one row per completed
    event with the FIRST line's ``order_col``.
    """
    import re as _re

    if match not in ("after", "before"):
        raise ValueError(f"match must be 'after' or 'before': {match!r}")
    out_schema = (f"{file_col} string, {order_col} long, "
                  f"{line_col} string, n_lines long")
    # cont_next: for before-mode, whether the LAST consumed line's
    # match says the next line continues the event
    state_schema = "first_no long, buf string, n long, cont_next boolean"
    rx = _re.compile(pattern)
    frx = _re.compile(flush_pattern) if flush_pattern else None
    before = match == "before"

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        path = key[0]
        if state.hasTimedOut:
            # file went quiet: flush the dangling event (the
            # reference's timeout flush, pattern.go:57)
            if state.exists:
                first_no, buf, n, _ = state.get
                state.remove()
                yield pd.DataFrame(
                    [(path, first_no, buf, n)],
                    columns=[file_col, order_col, line_col, "n_lines"])
            return
        if state.exists:
            first_no, buf, n, cont_next = state.get
        else:
            first_no, buf, n, cont_next = None, None, 0, False
        done = []
        chunks = [pdf for pdf in batches]
        if chunks:
            # concat before sorting: one group's rows may span several
            # Arrow chunks in fetch order, and state is sequential
            pdf = _concat_chunks(chunks)
            # a NULL order value is a corrupt source row: drop it
            # (int(NaN) would otherwise kill the whole query)
            pdf = pdf[pdf[order_col].notna()].sort_values(order_col)
            for no, line in zip(pdf[order_col].values,
                                pdf[line_col].values):
                line = "" if line is None else str(line)
                # flush check runs BEFORE the continuation predicate
                # (pattern.go:209-220): the matching line joins the
                # CURRENT event, which emits immediately
                matched = bool(rx.search(line)) != negate
                if frx is not None and frx.search(line):
                    if buf is not None:
                        if n < max_lines:
                            buf += "\n" + line
                            n += 1
                    else:
                        first_no, buf, n = int(no), line, 1
                    done.append((path, int(first_no), buf, n))
                    first_no, buf, n = None, None, 0
                    cont_next = False
                    continue
                cont = cont_next if before else matched
                cont_next = matched
                if buf is not None and cont:
                    # past max_lines the line is CONSUMED but dropped
                    # (message_buffer.go addLine: content and numLines
                    # freeze at the cap) — same as the batch joiner's
                    # buf[:max_lines] truncation, never a split
                    if n < max_lines:
                        buf += "\n" + line
                        n += 1
                else:
                    if buf is not None:
                        done.append((path, int(first_no), buf, n))
                    first_no, buf, n = int(no), line, 1
        if buf is not None:
            state.update((int(first_no), buf, int(n), bool(cont_next)))
            if timeout_ms is not None:
                state.setTimeoutDuration(int(timeout_ms))
        elif state.exists:
            state.remove()
        if done:
            yield pd.DataFrame(
                done, columns=[file_col, order_col, line_col, "n_lines"])

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if timeout_ms is not None else GroupStateTimeout.NoTimeout)
    return (lines.groupBy(file_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout))


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
    ``applyInPandasWithState`` keyed by file. A processing-time
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
    out_schema = (f"{file_col} string, {order_col} long, "
                  f"{line_col} string, container_stream string, "
                  f"container_time timestamp, n_lines long")
    state_schema = ("first_no long, buf string, stream string, "
                    "ts_us long, n long")

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        path = key[0]

        def row(first_no, buf, stream, ts_us, n):
            ts = (pd.Timestamp(ts_us, unit="us") if ts_us is not None
                  and ts_us >= 0 else pd.NaT)
            return (path, first_no, buf, stream, ts, n)

        if state.hasTimedOut:
            if state.exists:
                first_no, buf, stream, ts_us, n = state.get
                state.remove()
                yield pd.DataFrame(
                    [row(first_no, buf, stream, ts_us, n)],
                    columns=[file_col, order_col, line_col,
                             "container_stream", "container_time",
                             "n_lines"])
            return
        if state.exists:
            first_no, buf, stream, ts_us, n = state.get
        else:
            first_no, buf, stream, ts_us, n = None, None, None, None, 0
        done = []
        chunks = [pdf for pdf in batches]
        if chunks:
            # concat before sorting — see stateful_multiline; NULL
            # order rows are corrupt source rows (int(NaN) raises)
            pdf = _concat_chunks(chunks)
            pdf = pdf[pdf[order_col].notna()].sort_values(order_col)
            ts_vals = (pdf["container_time"].values
                       .astype("datetime64[ns]").astype("int64") // 1000)
            null_ts = pdf["container_time"].isna().values
            for no, msg, st, t_us, t_null, part in zip(
                    pdf[order_col].values, pdf[line_col].values,
                    pdf["container_stream"].values, ts_vals, null_ts,
                    pdf["container_partial"].values):
                msg = "" if msg is None else str(msg)
                if buf is None:
                    first_no, buf, stream, n = int(no), msg, st, 1
                    ts_us = None if t_null else int(t_us)
                else:
                    buf += msg
                    n += 1
                if not part:
                    done.append(row(first_no, buf, stream, ts_us, n))
                    first_no, buf, stream, ts_us, n = (None, None, None,
                                                       None, 0)
        if buf is not None:
            state.update((int(first_no), buf, stream,
                          -1 if ts_us is None else int(ts_us), int(n)))
            if timeout_ms is not None:
                state.setTimeoutDuration(int(timeout_ms))
        elif state.exists:
            state.remove()
        if done:
            yield pd.DataFrame(
                done, columns=[file_col, order_col, line_col,
                               "container_stream", "container_time",
                               "n_lines"])

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if timeout_ms is not None else GroupStateTimeout.NoTimeout)
    return (parsed.groupBy(file_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout))


def stateful_url_dedup(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    within: str = "10 minutes",
    canon_col: str = "canonical_url",
    strip_www: bool = False,
) -> DataFrame:
    """Streaming URL-level dedup at ingest: canonicalize
    (:func:`beats_spark.dataops.urls.canonical_url` — same expression
    as the batch op, streaming-safe because it is a pure projection)
    and keep the FIRST arrival of each canonical URL, dropping
    re-crawls/re-spellings that arrive within ``within`` event time of
    it (``dropDuplicatesWithinWatermark`` — per-key state is evicted
    once the watermark passes, so state is bounded by the dedup
    horizon × arrival rate, not corpus size; an unbounded
    ``dropDuplicates`` would grow state forever at crawl scale).

    A duplicate arriving LATER than ``within`` after the original is
    admitted again — at 100 TB that is the correct trade: bounded
    state with a re-crawl window, with corpus-wide exactness left to
    the batch ``url_dedup`` compaction pass (the standard
    lambda-architecture split).
    """
    from ..dataops.urls import canonical_url
    out = pages.withColumn(
        canon_col, canonical_url(F.col(url_col), strip_www=strip_www))
    return (out.withWatermark(ts_col, within)
               .dropDuplicatesWithinWatermark([canon_col]))


def stream_count_anomalies(
    counts: DataFrame,
    group_col: str = "sink",
    bucket_col: str = "win_start",
    count_col: str = "n",
    trailing: int = 24,
    min_points: int = 6,
    z: int = 3,
) -> DataFrame:
    """Streaming form of :func:`beats_spark.dataops.templates
    .count_anomalies`: consume an already-bucketed counter stream
    (the output of a windowed-count query — the standard two-stage
    monitoring topology; Spark disallows chaining a second stateful
    op behind the window agg in ONE query, so this runs as its own
    stage) and flag buckets beyond ``z`` trailing-window sample
    standard deviations, per group.

    State per group is the ring buffer of the last ``trailing``
    bucket counts — bounded, independent of stream length. The test
    is the SAME cross-multiplied integer inequality as the batch op
    (Python ints are arbitrary-precision, so flags match the batch
    decimal(38,0) arithmetic bit-for-bit — asserted in the test).
    Emits every input row with ``n_prior`` and ``is_anomaly`` (NULL
    while fewer than ``min_points`` priors). Buckets must arrive in
    event-time order per group ACROSS micro-batches (within a batch
    they are sorted here); a bucket at or before the last seen one
    is emitted with ``n_prior = -1`` and a NULL flag and does not
    touch the state — feed this from an append-mode windowed count,
    whose per-group emission order is watermark-monotone.
    """
    if min_points < 2:
        raise ValueError("stream_count_anomalies: min_points must "
                         "be >= 2")
    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                          for f in counts.schema.fields)
    out_schema = f"{in_fields}, n_prior int, is_anomaly boolean"
    state_schema = "prior array<bigint>, last_us bigint"
    z2 = int(z) * int(z)

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            prior, last_us = list(state.get[0]), state.get[1]
        else:
            prior, last_us = [], -(1 << 62)
        chunks = [pdf for pdf in batches]
        if not chunks:
            return
        pdf = _concat_chunks(chunks)
        pdf = pdf.sort_values(bucket_col, kind="mergesort")
        bcol = pdf[bucket_col]
        if getattr(bcol.dtype, "tz", None) is not None:
            # absolute instants when Arrow hands tz-aware values;
            # naive values arrive in the SESSION timezone — run the
            # query under UTC (the catalog pins it) or a DST-free
            # zone, else the fall-back fold collapses two real
            # buckets into one naive value and the later one is
            # dropped as a replay
            bcol = bcol.dt.tz_convert("UTC").dt.tz_localize(None)
        us = (bcol.values.astype("datetime64[ns]")
              .astype("int64") // 1000)
        xs = pdf[count_col].values
        n_prior_out, flag_out = [], []
        for t, xv in zip(us, xs):
            t = int(t)
            if t <= last_us:
                n_prior_out.append(-1)
                flag_out.append(None)
                continue
            x = int(xv)
            n = len(prior)
            if n < min_points:
                flag_out.append(None)
            else:
                s = sum(prior)
                q = sum(c * c for c in prior)
                d = x * n - s
                flag_out.append(
                    bool(d * d * (n - 1) > z2 * n * (n * q - s * s)))
            n_prior_out.append(n)
            prior.append(x)
            if len(prior) > trailing:
                prior = prior[-trailing:]
            last_us = t
        out = pdf.copy()
        out["n_prior"] = pd.array(n_prior_out, dtype="int32")
        out["is_anomaly"] = pd.array(flag_out, dtype="boolean")
        state.update((prior, int(last_us)))
        yield out

    return (counts.groupBy(group_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout))


def stream_ewma(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    x_col: str = "x",
    order_by: Sequence[str] = (),
    alpha_num: int = 2,
    alpha_den: int = 10,
    scale: int = 1000,
    spike_num: int = 25,
    spike_den: int = 10,
) -> DataFrame:
    """Streaming twin of :func:`beats_spark.dataops.events
    .ewma_smooth` via ``applyInPandasWithState``: the SAME integer
    fixed-point recurrence (``s_t = (alpha_num·x_t·scale +
    (alpha_den−alpha_num)·s_{t−1}) // alpha_den``, floor each step,
    NULL x counts as 0), so smoothed values and spike flags match the
    batch kernel bit-for-bit across micro-batches AND query restarts
    (asserted in the test).

    State per key is just ``(s, last_us)`` — two BIGINTs, bounded
    forever. Events must arrive in event-time order per key ACROSS
    micro-batches (within a batch they are sorted here); a row at or
    before the last seen timestamp is emitted with NULL ``ewma_milli``
    / NULL ``spike`` and does not touch the state — the same replay
    contract as :func:`stream_count_anomalies`.
    """
    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                          for f in events.schema.fields)
    out_schema = f"{in_fields}, ewma_milli bigint, spike boolean"
    state_schema = "s bigint, last_us bigint"
    a_n, a_d = int(alpha_num), int(alpha_den)
    sc, sp_n, sp_d = int(scale), int(spike_num), int(spike_den)
    sort_cols = [ts_col, *order_by]

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            s_prev, last_us = state.get
            s_prev = int(s_prev)
        else:
            s_prev, last_us = None, -(1 << 62)
        chunks = [pdf for pdf in batches]
        if not chunks:
            return
        pdf = _concat_chunks(chunks)
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        tcol = pdf[ts_col]
        if getattr(tcol.dtype, "tz", None) is not None:
            tcol = tcol.dt.tz_convert("UTC").dt.tz_localize(None)
        us = (tcol.values.astype("datetime64[ns]")
              .astype("int64") // 1000)
        xs = pdf[x_col].fillna(0).astype("int64").tolist()
        out_s, out_spike = [], []
        for t, x in zip(us, xs):
            t = int(t)
            if t <= last_us:
                out_s.append(None)
                out_spike.append(None)
                continue
            xv = int(x) * sc
            if s_prev is None:
                s, spike = xv, False
            else:
                spike = xv * sp_d > sp_n * s_prev
                s = (a_n * xv + (a_d - a_n) * s_prev) // a_d
            out_s.append(s)
            out_spike.append(spike)
            s_prev, last_us = s, t
        out = pdf.copy()
        out["ewma_milli"] = pd.array(out_s, dtype="Int64")
        out["spike"] = pd.array(out_spike, dtype="boolean")
        if s_prev is not None:
            state.update((int(s_prev), int(last_us)))
        yield out

    return (events.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout))


def stream_dedup_against(
    stream: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    within: str = "10 minutes",
    key=None,
    cache_seen: bool = True,
) -> DataFrame:
    """Streaming form of :func:`beats_spark.dataops.dedup
    .dedup_against`: drop arriving pages whose content digest exists
    in the STATIC accumulated corpus (stream–static left-anti join —
    the static side reduces to distinct 32-byte digests once and is
    reused every micro-batch), then drop re-arrivals within the
    stream itself via ``dropDuplicatesWithinWatermark`` on the same
    digest, so in-stream state stays bounded by the dedup horizon.

    Together with a periodic batch compaction
    (:func:`~beats_spark.dataops.dedup.dedup_against` over the full
    corpus) this is the standard ingest/compact split: the stream is
    exact against history-at-start + horizon-bounded against itself;
    the compactor owns corpus-wide exactness.

    ``cache_seen`` persists the distinct-digest side so it is not
    re-derived from the corpus every micro-batch. The cache lives
    until the session ends — a caller building pipelines against
    SUCCESSIVE corpus snapshots should pass ``cache_seen=False`` and
    manage its own persisted/checkpointed digest frame as ``seen_df``
    (with ``key=F.col(...)``), or each call pins another orphaned
    digest set.
    """
    k = key if key is not None else F.md5(F.col(text_col))
    seen_keys = seen_df.select(
        (key if key is not None else F.md5(F.col(text_col)))
        .alias("__k")).distinct()
    if cache_seen:
        seen_keys = seen_keys.persist()
    out = stream.withColumn("__k", k).join(seen_keys, "__k", "left_anti")
    return (out.withWatermark(ts_col, within)
               .dropDuplicatesWithinWatermark(["__k"])
               .drop("__k"))


def stream_countmin(
    stream: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    seed: str = "",
) -> DataFrame:
    """Streaming count-min sketch: the EXACT batch grid
    (:func:`beats_spark.dataops.sketch.countmin_build` — same hashes,
    same cells) maintained incrementally as a native streaming
    aggregation. Run with ``outputMode("update")`` (or ``complete``
    for a full-grid snapshot per trigger).

    The whole point of the sketch shape in a stream: the aggregation
    state is bounded at ``depth × width`` rows FOREVER, for a key
    stream of unbounded cardinality — no watermark needed because
    nothing grows (contrast every keyed-state op above, whose state is
    bounded only by eviction). After any prefix of micro-batches the
    grid is bit-identical to the batch build over the same rows
    (asserted in tests), so a live hot-key monitor and an offline
    profile read the same numbers, and
    :func:`~beats_spark.dataops.sketch.countmin_estimate` works
    unchanged on either."""
    from ..dataops.sketch import countmin_build
    # the batch build IS streaming-safe (explode → partial-combining
    # groupBy); delegating keeps the null-key guard and the grids
    # bit-identical by construction, not by parallel maintenance
    return countmin_build(stream, key_col, width=width, depth=depth,
                          seed=seed)


def stream_hll(
    stream: DataFrame,
    value_col: str,
    p: int = 12,
    bits: int = 32,
    by: "str | None" = None,
    seed: str = "",
) -> DataFrame:
    """Streaming HyperLogLog registers: the EXACT batch register frame
    (:func:`beats_spark.dataops.sketch.hll_registers` — same hash,
    same buckets) maintained as a native streaming max-aggregation.
    Run with ``outputMode("update")``/``complete``; evaluate snapshots
    with :func:`~beats_spark.dataops.sketch.hll_estimate`, unchanged.

    Like :func:`stream_countmin`, the state is bounded FOREVER — at
    most ``2^p`` rows per group for an unbounded-cardinality value
    stream, no watermark because nothing grows and max() is
    insensitive to replay (an at-least-once source re-delivering rows
    cannot move a register). This is the live "distinct urls today"
    monitor whose numbers agree bit-for-bit with the offline batch
    profile over the same rows (asserted in tests)."""
    from ..dataops.sketch import hll_registers
    # the batch build IS streaming-safe (map-side bucket/rho projection
    # → partial-combining max groupBy); delegating keeps the register
    # frames bit-identical by construction
    return hll_registers(stream, value_col, p=p, bits=bits, by=by,
                         seed=seed)


def stream_event_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    within_seconds: int = 600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream event-time join: pair each left
    event with the right-stream events of the same key whose
    timestamp falls in ``[left_ts, left_ts + within_seconds]`` — the
    "correlate the request with the errors that followed it on the
    same host" primitive (the reference leaves correlation to the
    backend; Structured Streaming can do it in-flight).

    Both sides carry a watermark and the join condition bounds the
    event-time distance, which is what makes the state FINITE: each
    side buffers only rows newer than (watermark + within), evicted
    by event time, for streams of unbounded length. Without the time
    bound Spark would rightly refuse the join (unbounded state).
    ``left_ts``/``right_ts`` must be distinct names (the joined frame
    keeps both). Inner join only: outer stream-stream joins emit
    nulls at watermark expiry, i.e. results depend on trigger timing,
    and every operator in this repo is replay-deterministic.
    """
    if left_ts == right_ts:
        raise ValueError("stream_event_join: left_ts and right_ts "
                         "must be distinct column names")
    lw = left.withWatermark(left_ts, watermark)
    rw = (right.withColumnRenamed(key_col, "__rkey")
          .withWatermark(right_ts, watermark))
    cond = ((F.col(key_col) == F.col("__rkey"))
            & (F.col(right_ts) >= F.col(left_ts))
            & (F.col(right_ts) <= F.col(left_ts)
               + F.expr(f"INTERVAL {int(within_seconds)} SECONDS")))
    return lw.join(rw, cond, "inner").drop("__rkey")


def stream_percolate(
    stream: DataFrame,
    stored: "list[tuple[str, str | None, list[str]]]",
    id_col: str = "url",
    text_col: str = "text",
    meta_col: "str | None" = "lang",
) -> DataFrame:
    """Live alerting: match every arriving page against the compiled
    stored-query set (:func:`beats_spark.dataops.terms
    .with_percolator` — AND-of-terms + optional lang gate, the ES
    percolator semantics) and emit one ``(id, query_id)`` alert row
    per hit.

    Entirely map-side — one codegen projection + explode, no state,
    no watermark, no shuffle — so it is trigger-timing-independent
    and replay-deterministic: the union of alerts over any
    micro-batch split equals the batch percolation of the same rows
    (asserted in tests). This is the streaming complement of the
    join-form :func:`~beats_spark.dataops.terms.percolate`: rules
    compiled from config (like beats conditions), evaluated per
    event, alerts appended downstream.
    """
    from ..dataops.terms import with_percolator
    hit = with_percolator(stream, stored, text_col=text_col,
                          meta_col=meta_col, out_col="__mq")
    return (hit.select(F.col(id_col),
                       F.explode("__mq").alias("query_id")))


def stream_dns_alerts(
    stream: DataFrame,
    name_col: str = "query_name",
    min_label_len: int = 24,
    min_ent_per_cp_micro: int = 2_000_000,
) -> DataFrame:
    """Live DNS-tunneling alerting: flag arriving query names whose
    FIRST label is long + high-entropy (:func:`beats_spark.dataops
    .textstats.dns_tunnel_flags`) and emit only the flagged rows —
    the packetbeat-DNS → SIEM detection loop as one streaming stage.

    Entirely map-side — ``substring_index`` is codegen, the entropy
    kernel is one ArrowEvalPython projection, the flag filter is
    codegen; no state, no watermark, no shuffle — so it is
    trigger-timing-independent and replay-deterministic: the union
    of alerts over any micro-batch split equals the batch
    :func:`dns_tunnel_flags` filter on the same rows (asserted in
    tests). Integer micro-nat thresholds keep the flag
    bit-reproducible across batch and stream.
    """
    from ..dataops.textstats import dns_tunnel_flags
    flagged = dns_tunnel_flags(
        stream, name_col=name_col, min_label_len=min_label_len,
        min_ent_per_cp_micro=min_ent_per_cp_micro)
    return flagged.filter(F.col("is_tunnel"))


def stateful_heavy_hitters(
    items: DataFrame,
    item_col: str = "item",
    shards: int = 8,
    k: int = 64,
) -> DataFrame:
    """Streaming Misra-Gries heavy-hitter candidates — the live form
    of :func:`beats_spark.dataops.sketch.heavy_hitters` phase 1, as
    ``applyInPandasWithState`` keyed by a deterministic hash shard:
    every occurrence of an item lands in exactly ONE shard (portable
    60-bit md5 hash mod ``shards``), each shard folds its arriving
    counts into a ``k``-counter MG summary (same batched prune as the
    batch op: subtract the (k+1)-th largest, drop non-positives), and
    after every micro-batch the shard emits its CURRENT summary
    ``(shard, item, est, shard_n, seq)`` — ``seq`` increments per
    emission, so "latest summary" = max seq per shard.

    No-false-negative contract, carried over from the batch op: an
    item with global count > n/k has all its weight in one shard s,
    where count > n/k ≥ n_s/k > n_s/(k+1) — it survives shard s's
    summary. The union of latest per-shard survivors is therefore a
    complete candidate set at any point in the stream; the exact
    recount (batch phase 2) runs as a periodic batch job over the
    candidates. State per shard is ≤ k (item, count) pairs + two
    longs — bounded for any stream length.

    Items are carried as strings in state (cast on the way in);
    NULL items are dropped before sharding (a NULL can't be a key).
    """
    if shards < 1:
        raise ValueError(f"stateful_heavy_hitters: shards must be "
                         f">= 1, got {shards}")
    if k < 2:
        raise ValueError(f"stateful_heavy_hitters: k must be >= 2, "
                         f"got {k}")
    import numpy as np

    kk = int(k)
    h = F.conv(F.substring(F.md5(F.concat(
        F.col(item_col).cast("string"), F.lit("#hh"))), 1, 15),
        16, 10).cast("long")
    base = (items.filter(F.col(item_col).isNotNull())
            .select(F.col(item_col).cast("string").alias("__it"),
                    (h % shards).cast("int").alias("__shard")))
    out_schema = ("shard int, item string, est long, shard_n long, "
                  "seq long")
    state_schema = ("its array<string>, cnts array<bigint>, "
                    "total bigint, seq bigint")

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            its, cnts, total, seq = state.get
            acc = pd.Series(list(cnts), index=list(its), dtype="int64")
        else:
            acc, total, seq = None, 0, 0
        got = False
        for pdf in batches:
            if not len(pdf):
                continue
            got = True
            vals, c = np.unique(pdf["__it"].to_numpy(),
                                return_counts=True)
            total += int(c.sum())
            s = pd.Series(c.astype("int64"), index=vals)
            # float64 via aligned add — exact below 2^53
            acc = s if acc is None else acc.add(s, fill_value=0)
            if len(acc) > kk:
                a = acc.to_numpy()
                m = np.partition(a, -kk - 1)[-kk - 1]
                acc = acc[acc > m] - m
        if not got or acc is None or not len(acc):
            return
        seq += 1
        state.update((list(acc.index.astype(str)),
                      [int(v) for v in acc.to_numpy()],
                      int(total), int(seq)))
        yield pd.DataFrame({
            "shard": np.full(len(acc), key[0], dtype="int32"),
            "item": acc.index.to_numpy(),
            "est": acc.to_numpy("int64"),
            "shard_n": np.full(len(acc), total, dtype="int64"),
            "seq": np.full(len(acc), seq, dtype="int64")})

    return (base.groupBy("__shard").applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout))


def stateful_counter_rates(
    samples: DataFrame,
    key_col: str = "host",
    ts_col: str = "ts",
    counter_col: str = "ctr",
) -> DataFrame:
    """Streaming form of :func:`beats_spark.dataops.events
    .counter_rates`: turn arriving monotonic-counter samples into
    per-second rates live, with the same reset rule (a counter that
    went backwards restarts the interval at its own value) and the
    same integer arithmetic — Python ints are arbitrary-precision, so
    the emitted rates match the batch decimal(38,0) spelling
    bit-for-bit on in-order input — STRICTLY increasing per-key
    timestamps (asserted in the test). A duplicate (key, ts)
    timestamp is NOT in-order here: the late rule below marks it
    ``dt_us = -1`` (state keeps only the last timestamp, so a tie
    arriving in a later micro-batch could never be ordered
    consistently; emitting it as late in-batch too keeps emission
    independent of batch boundaries). The batch operator instead
    orders ties by counter value and emits a ``dt_us = 0`` NULL-rate
    row — the one documented divergence between the two forms.

    State per key is two longs (last timestamp, last counter) —
    stream-length independent. Samples are sorted within a
    micro-batch; a sample at or before the key's last seen timestamp
    ACROSS batches is emitted with ``dt_us = -1`` and NULL
    delta/rate and does not touch state (the late-data rule of
    ``stream_count_anomalies``). Each key's first-ever sample opens
    the series and emits nothing.
    """
    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                          for f in samples.schema.fields)
    out_schema = (f"{in_fields}, delta bigint, dt_us bigint, "
                  f"was_reset boolean, rate_micro bigint")
    state_schema = "last_us bigint, last_c bigint"

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_us, last_c = state.get
        else:
            last_us, last_c = None, None
        # (ts, counter) sort order — the batch operator's tied-
        # timestamp tiebreaker, so duplicate (key, ts) samples within
        # a micro-batch lag identically in both engines
        pdf, us = _drain_sorted_us(batches, ts_col, counter_col)
        if pdf is None:
            return
        cs = pdf[counter_col].astype("int64").tolist()
        first = last_us is None
        deltas, dts, resets, rates = [], [], [], []
        drop_first = False
        for i, (t, c) in enumerate(zip(us, cs)):
            t = int(t)
            c = int(c)
            if last_us is None:
                last_us, last_c = t, c
                drop_first = True
                deltas.append(None); dts.append(None)
                resets.append(None); rates.append(None)
                continue
            if t <= last_us:
                deltas.append(None); dts.append(-1)
                resets.append(None); rates.append(None)
                continue
            reset = c < last_c
            d = c if reset else c - last_c
            dt = t - last_us
            deltas.append(d); dts.append(dt); resets.append(reset)
            # truncate toward zero like the batch decimal DIV (Python
            # // floors, so a negative delta — a reset sample whose
            # counter value is itself negative — would diverge by one)
            num = d * 1_000_000_000_000
            trunc = (-((-num) // dt) if num < 0 else num // dt) \
                if dt > 0 else None
            rates.append(trunc)
            last_us, last_c = t, c
        out = pdf.copy()
        out["delta"] = pd.array(deltas, dtype="Int64")
        out["dt_us"] = pd.array(dts, dtype="Int64")
        out["was_reset"] = pd.array(resets, dtype="boolean")
        out["rate_micro"] = pd.array(rates, dtype="Int64")
        if first and drop_first:
            # the key's very first sample only opens the series
            keep = ~(pd.Series(range(len(out)), index=out.index) == 0)
            out = out[keep.values]
        state.update((int(last_us), int(last_c)))
        if len(out):
            yield out

    return (samples.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout))


def stateful_ewma_smooth(
    samples: DataFrame,
    key_col: str = "host",
    ts_col: str = "ts",
    x_col: str = "x",
    alpha_num: int = 2,
    alpha_den: int = 10,
    scale: int = 1000,
    spike_num: int = 25,
    spike_den: int = 10,
) -> DataFrame:
    """Streaming form of :func:`beats_spark.dataops.events
    .ewma_smooth` — the live telemetry smoother + spike alarm
    (VERDICT r4 item 6). The batch recurrence replays bit-for-bit:
    ``s_t = (alpha_num·x_t·scale + (alpha_den−alpha_num)·s_{t−1})
    // alpha_den`` with spike ⇔ ``x·scale·spike_den >
    spike_num·s_prev`` — Python ints are arbitrary-precision and
    floor division here only ever sees non-negative smoothed values
    when inputs are non-negative; NEGATIVE observations floor the
    same way the batch kernel's Python ``//`` does (both kernels
    share the spelling), so streaming==batch on ALL inputs, asserted
    in the test.

    State per key is two longs (last event-time µs, last smoothed
    value) — stream-length independent. Within a micro-batch samples
    sort by event time; a sample at or before the key's last seen
    timestamp ACROSS batches is emitted with NULL ewma/spike and a
    ``late = true`` marker and does not touch state (the
    ``stateful_counter_rates`` late rule). NULL observations count
    as 0, the batch rule.
    """
    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                          for f in samples.schema.fields)
    out_schema = (f"{in_fields}, ewma_milli bigint, spike boolean, "
                  f"late boolean")
    state_schema = "last_us bigint, s_prev bigint"
    a_n, a_d = int(alpha_num), int(alpha_den)
    sc, sp_n, sp_d = int(scale), int(spike_num), int(spike_den)

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_us, s_prev = state.get
        else:
            last_us, s_prev = None, None
        pdf, us = _drain_sorted_us(batches, ts_col, x_col)
        if pdf is None:
            return
        # NULL observations count as 0, the batch rule
        xs_raw = [0 if x is None else x
                  for x in _nullable_ints(pdf[x_col])]
        smooths, spikes, lates = [], [], []
        for t, x in zip(us, xs_raw):
            t = int(t)
            if last_us is not None and t <= last_us:
                smooths.append(None); spikes.append(None)
                lates.append(True)
                continue
            xs = int(x) * sc
            if s_prev is None:
                s, spike = xs, False
            else:
                spike = xs * sp_d > sp_n * s_prev
                s = (a_n * xs + (a_d - a_n) * s_prev) // a_d
            smooths.append(s); spikes.append(spike)
            lates.append(False)
            s_prev, last_us = s, t
        out = pdf.copy()
        out["ewma_milli"] = pd.array(smooths, dtype="Int64")
        out["spike"] = pd.array(spikes, dtype="boolean")
        out["late"] = pd.array(lates, dtype="boolean")
        if last_us is not None:
            state.update((int(last_us), int(s_prev)))
        yield out

    return (samples.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout))


def stateful_sequence_gaps(
    records: DataFrame,
    key_col: str = "channel",
    seq_col: str = "seq",
) -> DataFrame:
    """Streaming form of :func:`beats_spark.dataops.events
    .sequence_gaps` — the live did-we-lose-events audit over per-key
    sequence numbers (winlogbeat record_number / kafka offset
    continuity; VERDICT r4 item 6). Each micro-batch that touches a
    key emits that key's UPDATED running totals: ``(key, n,
    first_seq, last_seq, n_missing, n_dups, n_gaps, n_late)`` — the
    latest row per key (the one with the max ``n``) is the audit.

    State per key is six longs — stream-length independent. Within a
    micro-batch records sort by sequence number (matching the batch
    operator's ORDER BY seq); ACROSS batches the stream is assumed
    ordered per key — exactly Kafka's per-partition guarantee, the
    transport this audit rides. A record whose seq is BELOW the
    key's running last_seq is counted in ``n_late`` (streaming-only
    column) and otherwise ignored: the batch operator would have
    sorted it into place, a stream cannot retroactively un-count a
    gap. ``seq == last_seq`` is a duplicate, as in batch. On input
    ordered per key, the final totals equal the batch operator's row
    bit-for-bit (asserted in the test).
    """
    out_schema = (f"{key_col} string, n bigint, first_seq bigint, "
                  f"last_seq bigint, n_missing bigint, n_dups bigint, "
                  f"n_gaps bigint, n_late bigint")
    state_schema = ("n bigint, first_seq bigint, last_seq bigint, "
                    "n_missing bigint, n_dups bigint, n_gaps bigint, "
                    "n_late bigint")

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, first, last, miss, dups, gaps, late = state.get
        else:
            n = first = last = miss = dups = gaps = late = None
        chunks = [pdf for pdf in batches]
        if not chunks:
            return
        pdf = _concat_chunks(chunks)
        seqs = sorted(int(s) for s in
                      pdf[seq_col].astype("int64").tolist())
        for s in seqs:
            if first is None:
                n, first, last = 1, s, s
                miss = dups = gaps = late = 0
                continue
            if s < last:
                late += 1
                continue
            n += 1
            if s == last:
                dups += 1
            elif s > last + 1:
                miss += s - last - 1
                gaps += 1
            last = s
        if first is None:
            return
        state.update((int(n), int(first), int(last), int(miss),
                      int(dups), int(gaps), int(late)))
        yield pd.DataFrame([{
            key_col: key[0], "n": n, "first_seq": first,
            "last_seq": last, "n_missing": miss, "n_dups": dups,
            "n_gaps": gaps, "n_late": late}])

    return (records.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout))


def stream_seasonal_anomaly(
    counts: DataFrame,
    baseline: DataFrame,
    key_col: str = "key",
    hour_col: str = "hour",
    count_col: str = "n",
    z_num: int = 3,
    z_den: int = 2,
) -> DataFrame:
    """Streaming form of :func:`beats_spark.dataops.events
    .seasonal_anomaly` under the offline-baseline/online-score
    topology every production seasonal detector uses: the per-(key,
    hour-of-day) median baseline is computed BATCH-side (a median
    needs the day history; recomputing it inside the stream would be
    unbounded state) and broadcast-joined against the live bucketed
    counter stream, which then applies the IDENTICAL integer
    cross-multiplication as the batch operator — ``n · 2 · z_den >
    z_num · med2`` — so a bucket flags in the stream exactly iff the
    batch op flags it against the same baseline (asserted in the
    test).

    ``counts`` is an already-bucketed stream (the output of a
    windowed count — the same two-stage topology as
    :func:`stream_count_anomalies`) carrying ``key_col``,
    ``hour_col`` (hour-of-day 0–23) and ``count_col``; ``baseline``
    is the batch frame ``(key, hour, med2)`` — the distinct (key,
    hour, med2) rows of the batch operator's output. Keys/hours
    absent from the baseline emit a NULL flag (no basis to judge —
    surfacing them beats silently defaulting to "normal").

    Plan: ONE broadcast hash join + codegen comparison — no shuffle,
    no state, watermark-agnostic; works identically under batch for
    backtesting.
    """
    if z_num < 0 or z_den < 1:
        raise ValueError("stream_seasonal_anomaly: bad z ratio")
    b = F.broadcast(baseline.select(
        F.col(key_col).alias("__k"), F.col(hour_col).alias("__h"),
        F.col("med2").cast("long").alias("med2")))
    joined = counts.join(
        b, (F.col(key_col) == F.col("__k"))
        & (F.col(hour_col).cast("int") == F.col("__h")), "left")
    flag = F.when(
        F.col("med2").isNotNull(),
        F.col(count_col).cast("long") * 2 * z_den
        > F.lit(z_num) * F.col("med2"))
    return joined.drop("__k", "__h").withColumn("is_spike", flag)


def stateful_rolling_quantile(
    samples: DataFrame,
    key_col: str = "host",
    ts_col: str = "ts",
    x_col: str = "x",
    frame_rows: int = 20,
    q_pct: int = 95,
) -> DataFrame:
    """Streaming form of :func:`beats_spark.dataops.events
    .rolling_quantile` — the live "p95 latency right now per host"
    readout. Each arriving sample emits the nearest-rank
    ``q_pct``-th percentile of its key's trailing ``frame_rows``
    samples — the batch operator's exact spelling (``ceil(q·n)``-th
    smallest, an actual observed value, never interpolated), so
    streaming output matches the batch window row-for-row on
    strictly-increasing per-key timestamps (asserted in the test).

    State per key is the ring buffer of the last ``frame_rows``
    values — bounded, stream-length independent (the
    ``stream_count_anomalies`` state discipline). Within a
    micro-batch samples sort by (ts, x) — the tied-timestamp
    tiebreak; ACROSS batches a sample at or before the key's last
    seen timestamp is emitted with NULL quantile and ``late = true``
    and does not touch state. A NULL sample value advances the
    key's clock but never enters the ring (the batch operator's
    collect_list drops NULLs the same way) and emits a NULL
    quantile.
    """
    if frame_rows < 1 or not 1 <= q_pct <= 100:
        raise ValueError("stateful_rolling_quantile: frame_rows >= 1 "
                         "and 1 <= q_pct <= 100 required")
    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                          for f in samples.schema.fields)
    out_schema = f"{in_fields}, q_value bigint, late boolean"
    state_schema = "last_us bigint, buf array<bigint>"
    fr, q = int(frame_rows), int(q_pct)

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_us, buf = state.get
            buf = list(buf)
        else:
            last_us, buf = None, []
        pdf, us = _drain_sorted_us(batches, ts_col, x_col)
        if pdf is None:
            return
        xs = _nullable_ints(pdf[x_col])
        qs, lates = [], []
        for t, x in zip(us, xs):
            t = int(t)
            if last_us is not None and t <= last_us:
                qs.append(None); lates.append(True)
                continue
            if x is None:
                qs.append(None); lates.append(False)
                last_us = t
                continue
            buf.append(int(x))
            if len(buf) > fr:
                buf.pop(0)
            s = sorted(buf)
            # nearest rank: the ceil(q*n/100)-th smallest, exactly
            # the batch (n*q + 99) DIV 100 spelling
            qs.append(s[(len(s) * q + 99) // 100 - 1])
            lates.append(False)
            last_us = t
        out = pdf.copy()
        out["q_value"] = pd.array(qs, dtype="Int64")
        out["late"] = pd.array(lates, dtype="boolean")
        if last_us is not None:
            state.update((int(last_us), buf))
        yield out

    return (samples.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout))


def stateful_cusum(
    samples: DataFrame,
    key_col: str = "key",
    order_col: str = "seq",
    value_col: str = "x_micro",
    target_micro: int = 0,
    slack_micro: int = 0,
    threshold_micro: int = 1_000_000,
) -> DataFrame:
    """Streaming form of :func:`beats_spark.dataops.events
    .cusum_alarms` — live two-sided CUSUM drift detection. State per
    key is two longs (S⁺, S⁻) plus the last sequence number; the
    recurrence replays the batch integer spelling exactly (max(0,·)
    accumulation, both statistics reset after an alarm), so the
    alarm set matches the batch operator on per-key-ordered input
    (asserted in the test). Emits one row PER ALARM — ``(key, order,
    direction, stat_micro)`` — matching the batch output shape, with
    the key column keeping the INPUT's type; an out-of-order sample
    (at or below the key's last seen order) is silently skipped like
    the other late rules, since a fold cannot retroactively reorder,
    and a NULL value advances the key's clock without touching the
    statistics."""
    mu, k, h = int(target_micro), int(slack_micro), int(threshold_micro)
    if k < 0 or h <= 0:
        raise ValueError("slack_micro must be >= 0 and "
                         "threshold_micro > 0")
    key_type = {f.name: f.dataType.simpleString()
                for f in samples.schema.fields}[key_col]
    out_schema = (f"{key_col} {key_type}, {order_col} bigint, "
                  f"direction string, stat_micro bigint")
    state_schema = "last_o bigint, sp bigint, sn bigint"

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_o, sp, sn = state.get
        else:
            last_o, sp, sn = None, 0, 0
        chunks = [pdf for pdf in batches]
        if not chunks:
            return
        pdf = _concat_chunks(chunks)
        pdf = pdf.sort_values([order_col, value_col],
                              kind="mergesort")
        alarms = []
        for o, x in zip(_nullable_ints(pdf[order_col]),
                        _nullable_ints(pdf[value_col])):
            if o is None:
                continue              # no position: nothing to fold
            if last_o is not None and o <= last_o:
                continue
            if x is None:
                last_o = o
                continue
            sp = max(0, sp + (x - mu - k))
            sn = max(0, sn - (x - mu) - k)
            if sp > h:
                alarms.append((key[0], o, "up", sp))
                sp = sn = 0
            elif sn > h:
                alarms.append((key[0], o, "down", sn))
                sp = sn = 0
            last_o = o
        if last_o is not None:
            state.update((int(last_o), int(sp), int(sn)))
        if alarms:
            yield pd.DataFrame(alarms, columns=[
                key_col, order_col, "direction", "stat_micro"])

    return (samples.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout))


def stateful_slo_burn(
    buckets: DataFrame,
    key_col: str = "key",
    bucket_col: str = "bucket",
    events_col: str = "n_events",
    errors_col: str = "n_errors",
    budget: "tuple[int, int]" = (1, 100),
    horizon: int = 6,
) -> DataFrame:
    """Streaming form of :func:`beats_spark.dataops.events.slo_burn`
    — live error-budget burn alerting (the Google SRE multiwindow
    page/ticket input), consuming an already-bucketed counter stream
    (the output of a windowed count, the two-stage monitoring
    topology). Per arriving bucket: the instantaneous and the
    trailing-``horizon`` rolling burn in exact integer micro-units —
    the SAME cross-multiplied floor divisions as the batch operator
    (``errs·den·10^6 div (total·num)``), so emissions match the
    batch rows bit-for-bit on per-key-ordered buckets (asserted in
    the test).

    State per key is the ring of the last ``horizon`` (bucket index,
    errors, events) triples — bounded, stream-length independent.
    Calendar GAPS between buckets evict ring entries older than
    ``horizon − 1`` bucket indexes, matching the batch RANGE frame
    (a quiet hour must shrink the window's contents, not stretch
    it). A bucket at or before the key's last seen index emits NULL
    burns with ``late = true`` and leaves state untouched; a
    zero-event or NULL-counter bucket (heartbeat emitters,
    outer-joined calendars — shapes the batch operator cannot even
    produce) emits NULL burns, advances the clock, and never enters
    the rolling window."""
    num, den = budget
    if num < 1 or den < 1:
        raise ValueError("stateful_slo_burn: budget must be a "
                         "positive rational (num, den)")
    if horizon < 1:
        raise ValueError("stateful_slo_burn: horizon must be >= 1")
    in_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                          for f in buckets.schema.fields)
    out_schema = (f"{in_fields}, burn_micro bigint, "
                  f"rolling_burn_micro bigint, late boolean")
    state_schema = ("last_b bigint, bs array<bigint>, "
                    "es array<bigint>, ts array<bigint>")
    h = int(horizon)

    def fn(key: Tuple, batches: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_b, bs, es, ts = state.get
            ring = [list(x) for x in zip(bs, es, ts)]
        else:
            last_b, ring = None, []
        chunks = [pdf for pdf in batches]
        if not chunks:
            return
        pdf = _concat_chunks(chunks)
        # (bucket, errors, events) sort: tied same-bucket rows split
        # deterministically into processed/late, the family tiebreak
        pdf = pdf.sort_values([bucket_col, errors_col, events_col],
                              kind="mergesort")
        burns, rolls, lates = [], [], []
        for b, ev, er in zip(_nullable_ints(pdf[bucket_col]),
                             _nullable_ints(pdf[events_col]),
                             _nullable_ints(pdf[errors_col])):
            if b is None:
                burns.append(None); rolls.append(None)
                lates.append(False)
                continue
            if last_b is not None and b <= last_b:
                burns.append(None); rolls.append(None)
                lates.append(True)
                continue
            if not ev or er is None:
                # zero-traffic / NULL-counter bucket: nothing burns
                # and nothing enters the rolling window (the batch
                # operator cannot even produce such buckets); the
                # key's clock still advances
                burns.append(None); rolls.append(None)
                lates.append(False)
                last_b = b
                continue
            ring.append([b, er, ev])
            ring = [r for r in ring if r[0] > b - h]
            re_ = sum(r[1] for r in ring)
            rt = sum(r[2] for r in ring)
            burns.append(er * den * 1_000_000 // (ev * num))
            rolls.append(re_ * den * 1_000_000 // (rt * num)
                         if rt else None)
            lates.append(False)
            last_b = b
        out = pdf.copy()
        out["burn_micro"] = pd.array(burns, dtype="Int64")
        out["rolling_burn_micro"] = pd.array(rolls, dtype="Int64")
        out["late"] = pd.array(lates, dtype="boolean")
        if last_b is not None:
            state.update((int(last_b),
                          [r[0] for r in ring],
                          [r[1] for r in ring],
                          [r[2] for r in ring]))
        yield out

    return (buckets.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout))
