"""Event-stream shaping: gap sessionization, as-of (most-recent-prior)
joins, and exact percentile rollups.

These are the log-analytics layer over the parsed event table the
shipper pipeline produces (reference scope ends at delivery —
``libbeat/outputs``; what every consumer of those events then does
first is sessionize / latest-state join / latency percentiles, so the
engine ships them as first-class operators).

Plan shapes (all single-shuffle on the entity key):
  sessionize    — one hash exchange on the key, one sort, two window
                  functions over the SAME window frame (lag + running
                  sum share one Window node: no second exchange).
  asof_join     — union both sides tagged, one exchange on the key,
                  one sort, ``last(ignorenulls)`` running window. No
                  join node at all, so no N×M range-join blowup and
                  no skew amplification: a key's cost is linear in its
                  own row count.
  percentile_rollup — one partial-aggregating exchange; exact
                  interpolated percentiles (Spark ``percentile``),
                  not approx sketches, so results are engine-portable.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = ["ab_test", "apdex", "asof_join", "counter_rates", "fano_burstiness", "gapfill_series", "holt_smooth", "metric_correlation", "rolling_active_users", "sequence_gaps", "weighted_percentiles", "km_survival", "bot_cadence", "clock_skew", "coec_scores", "covisitation", "cusum_alarms", "interval_join", "trend_slope",
           "decayed_counts", "ewma_smooth",
           "funnel_steps", "merge_intervals",
           "percentile_rollup", "position_attribution",
           "retention_cohorts", "rolling_quantile", "scd2_join", "seasonal_anomaly", "slo_burn",
           "session_rollup", "sessionize", "winsorize"]


def _epoch_us(df: DataFrame, ts_col: str) -> Column:
    """Integer epoch-microseconds of a timestamp column.
    ``unix_micros`` rejects TIMESTAMP_NTZ (parquet's common flavor),
    so NTZ casts through TIMESTAMP first — under a UTC session the
    result equals DuckDB's ``epoch_us`` on the same naive value; gap
    and ordering comparisons are tz-shift-invariant either way."""
    c = F.col(ts_col)
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        c = c.cast("timestamp")
    return F.unix_micros(c)


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    session_col: str = "session_seq",
) -> DataFrame:
    """Assign every event its gap-based session: within each
    ``key_col``, a new session starts when the time since the previous
    event exceeds ``gap_seconds``. Adds ``session_col`` (1-based
    session sequence number per key; ``(key, session_seq)`` is the
    session identity).

    The gap test runs on integer epoch-microseconds, so the boundary
    is exact (no float time arithmetic): ``diff > gap_seconds * 1e6``
    starts a new session; equal-to-gap continues it (the common
    "30-minute inactivity timeout" reading, and what the streaming
    form's ``session_window`` does too).

    Rows with equal timestamps always land in the same session
    regardless of their relative sort order (their mutual gap is 0),
    so no tie-break column is needed for the ASSIGNMENT to be
    deterministic. NULL timestamps fail loudly — a silent null would
    sort first and quietly anchor every session.

    One shuffle: lag and the running sum of session starts use the
    same ``(key ORDER BY ts)`` window, so Catalyst plans a single
    Exchange + Sort + one Window node. At 10^12 rows the work per key
    is linear and keys are independent — skewed users cost their own
    row count, nothing cross-key.
    """
    us = _epoch_us(df, ts_col)
    guard = F.assert_true(
        F.col(ts_col).isNotNull(),
        F.lit(f"sessionize: null {ts_col} (filter or fill first)"))
    us = F.when(guard.isNull(), us)
    w = Window.partitionBy(key_col).orderBy(us)
    prev = F.lag(us).over(w)
    is_start = F.when(
        prev.isNull() | ((us - prev) > F.lit(int(gap_seconds) * 1_000_000)),
        F.lit(1)).otherwise(F.lit(0))
    run = Window.partitionBy(key_col).orderBy(us) \
                .rowsBetween(Window.unboundedPreceding, 0)
    # two steps: a window function can't nest inside another's
    # argument; materializing the start flag as a column lets both
    # Window nodes share one Exchange + Sort (same spec)
    return (df.withColumn("__start", is_start)
              .withColumn(session_col,
                          F.sum("__start").over(run).cast("int"))
              .drop("__start"))


def session_rollup(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-session summary rows:
    ``(key, session_seq, session_start, session_end, n_events,
    duration_s)``. Built on :func:`sessionize`; the groupBy reuses the
    window's ``HashPartitioning(key)`` (subset-satisfied), so the
    rollup adds NO second exchange."""
    s = sessionize(df, key_col=key_col, ts_col=ts_col,
                   gap_seconds=gap_seconds)
    s = s.withColumn("__us", _epoch_us(s, ts_col))
    return (s.groupBy(key_col, "session_seq")
             .agg(F.min(ts_col).alias("session_start"),
                  F.max(ts_col).alias("session_end"),
                  F.count(F.lit(1)).alias("n_events"),
                  ((F.max("__us") - F.min("__us"))
                   / F.lit(1_000_000.0)).alias("duration_s")))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    payload_cols: Optional[Sequence[str]] = None,
    prefix: str = "asof_",
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """For every left row, attach the most recent right row with
    ``right_ts <= left_ts`` and the same ``on`` key (backward-
    inclusive as-of join — "state as of this event": latest config
    push before a request, last login before an error, ...).

    Spark has no asof join operator; the range-join spelling
    (``l JOIN r ON key AND r.ts <= l.ts`` + keep max) explodes to
    N×M per key before pruning. This is the linear spelling: union
    both sides tagged, one exchange on the key, one sort on
    ``(ts, side, tie_cols)``, and a running ``last(ignorenulls=True)``
    per payload column. Right rows sort BEFORE left rows at the same
    timestamp, so an exactly-simultaneous right row is visible
    (inclusive bound). Left rows with no prior right row get NULL
    payloads (left-outer semantics).

    ``payload_cols`` defaults to every right column except ``on`` and
    ``right_ts``; each arrives as ``prefix + name``. When several
    right rows share one timestamp, pass ``tie_cols`` (right-side
    columns) to make "the" latest row deterministic — the greatest
    ``(ts, tie_cols)`` wins.
    """
    if payload_cols is None:
        payload_cols = [c for c in right.columns
                        if c not in (on, right_ts)]
    out_names = [prefix + c for c in payload_cols]
    if not payload_cols:
        raise ValueError("asof_join: right side has no payload columns")
    missing = [c for c in (on, right_ts, *payload_cols, *tie_cols)
               if c not in right.columns]
    if missing:
        raise ValueError(f"asof_join: right side lacks {missing}")
    clash = sorted(set(out_names) & set(left.columns))
    if clash:
        raise ValueError(f"asof_join: output columns {clash} already "
                         "exist on the left — change prefix=")

    # the payload travels as ONE struct: last(ignorenulls) per column
    # would fill each field from a DIFFERENT right row whenever the
    # latest row carries a NULL field (e.g. an open-ended valid_to),
    # silently mixing versions — a struct is non-null iff a right row
    # exists, whatever its fields hold
    r = right.select(
        F.col(on),
        _epoch_us(right, right_ts).alias("__us"),
        F.lit(0).alias("__side"),
        *[F.col(t).alias(f"__tie{i}") for i, t in enumerate(tie_cols)],
        F.struct(*[F.col(c).alias(o)
                   for c, o in zip(payload_cols, out_names)])
         .alias("__p"))
    l = left.select(
        "*",
        _epoch_us(left, left_ts).alias("__us"),
        F.lit(1).alias("__side"),
        *[F.lit(None).alias(f"__tie{i}") for i in range(len(tie_cols))],
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"))
    u = l.unionByName(r, allowMissingColumns=True)
    order = [F.col("__us").asc(), F.col("__side").asc()] + \
            [F.col(f"__tie{i}").asc_nulls_last()
             for i in range(len(tie_cols))]
    w = Window.partitionBy(on).orderBy(*order) \
              .rowsBetween(Window.unboundedPreceding, 0)
    filled = u.withColumn(
        "__fp", F.last(F.col("__p"), ignorenulls=True).over(w))
    keep = [c for c in left.columns] + \
           [F.col("__fp")[o].alias(o) for o in out_names]
    return filled.filter(F.col("__side") == 1).select(*keep)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within_seconds: int = 1800,
    how: str = "inner",
    prefix: str = "r_",
) -> DataFrame:
    """Event-time interval join: for every left row, ALL right rows
    of the same ``on`` key whose ``right_ts`` lands in
    ``[left_ts, left_ts + within_seconds]`` — ad attribution
    (conversions within the window after an impression), alert
    correlation (errors within N minutes of a deploy), fraud rings
    (transactions clustered after a login). Many-to-many, unlike
    :func:`asof_join` (which picks exactly the latest single match
    and therefore gets the linear union+window spelling).

    Right columns except ``on`` arrive prefixed (``prefix``) so both
    sides' timestamps and payloads coexist; ``how`` is ``inner`` or
    ``left`` (unmatched left rows kept with NULLs).

    Plan: ONE hash exchange per side on the key, the time bound as a
    join-level post-filter (Spark evaluates it inside the sort-merge
    join, never materializing out-of-window pairs downstream). A
    key's cost is its own |L|x|R| — bounded by the window in any real
    event stream; a pathological hot key is a salting candidate
    (:mod:`beats_spark.skew`), not a planner problem, because the
    join never goes nested-loop (equi-key present). The streaming
    form is :func:`beats_analytics.streaming.stream_event_join`
    — same condition plus the two watermarks that bound join state;
    this batch spelling is its replay/backfill twin (identical pairs
    on identical data, asserted in tests), so an attribution window
    computed in-flight can be recomputed over history bit-for-bit.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"interval_join: how must be inner|left, "
                         f"got {how!r}")
    if int(within_seconds) < 0:
        raise ValueError("interval_join: within_seconds must be >= 0")
    payload = [c for c in right.columns if c != on]
    clash = sorted({prefix + c for c in payload} & set(left.columns))
    if clash:
        raise ValueError(f"interval_join: output columns {clash} "
                         "already exist on the left — change prefix=")
    r = right.select(F.col(on).alias("__k"),
                     *[F.col(c).alias(prefix + c) for c in payload])
    rts = F.col(prefix + right_ts)
    cond = ((left[on] == r["__k"])
            & (rts >= F.col(left_ts))
            & (rts <= F.col(left_ts)
               + F.expr(f"INTERVAL {int(within_seconds)} SECONDS")))
    return left.join(r, cond, "left_outer" if how == "left" else
                     "inner").drop("__k")


def scd2_join(
    left: DataFrame,
    dim: DataFrame,
    on: str,
    left_ts: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    payload_cols: Optional[Sequence[str]] = None,
    prefix: str = "dim_",
) -> DataFrame:
    """Temporal dimension join (SCD-type-2): attach the dimension row
    whose validity interval contains the event time —
    ``valid_from <= ts < valid_to``, with a NULL ``valid_to`` meaning
    "current". The "config at the time of the event" join every log
    pipeline needs against a slowly-changing lookup table.

    Built on :func:`asof_join` (most recent ``valid_from`` at or
    before the event — versions of one key must not overlap, the
    SCD2 invariant), then the match is WITHHELD where the version had
    already expired (``valid_to <= ts``) — so a gap between versions
    yields NULLs, not a stale row. Inherits asof's linear plan: one
    exchange on the key, a running-last window, zero Join nodes, no
    N×M interval explosion.
    """
    if payload_cols is None:
        payload_cols = [c for c in dim.columns
                        if c not in (on, valid_from, valid_to)]
    # tie on valid_to, not valid_from (which IS the sort key and
    # breaks nothing): two versions sharing a valid_from resolve to
    # the longest-lived one — NULL (current) sorts last and wins,
    # else the greatest valid_to — deterministically
    j = asof_join(left, dim, on=on, left_ts=left_ts,
                  right_ts=valid_from,
                  payload_cols=list(payload_cols) + [valid_to],
                  prefix=prefix, tie_cols=[valid_to])
    vto = F.col(prefix + valid_to)
    live = vto.isNull() | (_epoch_us(j, prefix + valid_to)
                           > _epoch_us(j, left_ts))
    out = j
    for c in payload_cols:
        out = out.withColumn(prefix + c,
                             F.when(live, F.col(prefix + c)))
    return out.drop(prefix + valid_to)


def funnel_steps(
    df: DataFrame,
    steps: Sequence[str],
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel completion per key: for the step sequence
    ``steps`` (event-type names), compute each key's first time
    through the funnel — step i's time is the MINIMUM event time of
    type ``steps[i]`` STRICTLY AFTER step i-1's time (step 0 is the
    key's first event of that type). Returns one row per key:
    ``(key, step_1_ts, ..., step_K_ts, steps_completed)`` with NULL
    times from the first uncompleted step on.

    Strictly-after means an event at the exact same timestamp as the
    previous step does NOT advance the funnel (and one event can
    never satisfy two steps) — the conventional funnel reading, and
    the rule the SQL oracle can state verbatim.

    Plan: K unbounded-frame window aggregates over the SAME
    ``partitionBy(key)`` spec (each step's min conditions on the
    previous step's column, so they chain as separate Window nodes)
    — ONE hash exchange total, no sort (no orderBy), no join, no
    explode. K is the funnel length (single digits); cost is K scans
    of each key's partition, linear in rows.
    """
    if not steps:
        raise ValueError("funnel_steps: steps must be non-empty")
    us = _epoch_us(df, ts_col)
    w = Window.partitionBy(key_col)
    out = df.withColumn("__us", us)
    cols = []
    for i, s in enumerate(steps):
        name = f"__t{i}"
        cond = F.col(type_col) == F.lit(s)
        if i > 0:
            cond = cond & F.col(f"__t{i - 1}").isNotNull() & \
                (F.col("__us") > F.col(f"__t{i - 1}"))
        out = out.withColumn(
            name, F.min(F.when(cond, F.col("__us"))).over(w))
        cols.append(name)
    agg = [F.max(F.timestamp_micros(F.col(c)))
            .alias(f"step{i + 1}_ts") for i, c in enumerate(cols)]
    res = out.groupBy(key_col).agg(*agg)
    # step i null => every later step is null by construction, so the
    # completed-prefix length is just the non-null count
    nn = sum(F.when(F.col(f"step{i + 1}_ts").isNotNull(), 1)
             .otherwise(0) for i in range(len(steps)))
    return res.withColumn("steps_completed", nn.cast("int"))


def retention_cohorts(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention triangle: cohort = the Monday-truncated week
    of each key's FIRST event; one output row per
    ``(cohort_week, week_offset)`` with the distinct keys active that
    many weeks after their cohort week —
    ``(cohort_week, week_offset, n_active)``.

    Plan: one window min per key (hash exchange on key), then one
    distinct-aggregation on ``(cohort, offset, key)`` collapsed into
    a count — the pre-aggregated (key-level) row set is what
    shuffles, never raw events twice. ``week_offset`` is computed in
    whole days / 7 on DATE values, so engines agree exactly (both
    Spark and DuckDB truncate weeks to Monday)."""
    us = _epoch_us(df, ts_col)
    w = Window.partitionBy(key_col)
    base = (df.withColumn("__us", us)
            .withColumn("__first",
                        F.timestamp_micros(F.min("__us").over(w)))
            .select(F.col(key_col),
                    F.date_trunc("week", F.col("__first")).cast("date")
                     .alias("cohort_week"),
                    F.date_trunc("week",
                                 F.timestamp_micros(F.col("__us")))
                     .cast("date").alias("__active_week")))
    return (base
            .withColumn("week_offset",
                        (F.datediff(F.col("__active_week"),
                                    F.col("cohort_week"))
                         / F.lit(7)).cast("int"))
            .groupBy("cohort_week", "week_offset")
            .agg(F.count_distinct(F.col(key_col)).alias("n_active")))


def percentile_rollup(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentiles: Sequence[float] = (0.5, 0.95, 0.99),
    round_to: int = 6,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Exact interpolated percentiles of ``value_col`` per group:
    ``(group, n, p50, p95, ...)`` — the latency-rollup shape every
    log pipeline reports.

    Uses Spark's exact ``percentile`` aggregate (linear interpolation
    between closest ranks — the same definition DuckDB/Postgres call
    ``quantile_cont``/``percentile_cont``), NOT ``approx_percentile``:
    exact values are engine-portable and testable; the sketch is not.
    Exact percentile holds each group's values on the reducer — fine
    for the per-service/per-endpoint cardinalities this targets; for
    groups with 10^9+ rows pass ``exact=False``: the
    ``approx_percentile`` sketch (bounded error ≤ 1/``accuracy`` in
    rank, constant reducer memory, mergeable partials) is the scale
    path — approximate values are NOT engine-portable, so only the
    exact form carries an oracle. Results rounded to ``round_to`` so
    comparisons never hinge on float formatting."""
    agg_fn = F.percentile if exact else (
        lambda c, p: F.approx_percentile(c, p, F.lit(int(accuracy))))
    pcols = []
    for p in percentiles:
        name = "p" + ("%g" % (p * 100)).replace(".", "_")
        pcols.append(F.round(agg_fn(F.col(value_col), F.lit(p)),
                             round_to).alias(name))
    return (df.groupBy(group_col)
              .agg(F.count(F.lit(1)).alias("n"), *pcols))


def event_transitions(
    df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """First-order transition table of each key's event stream:
    ``(prev_type, next_type, n, p_micro)`` where ``p_micro =
    n · 10^6 DIV Σ_next n`` — the empirical Markov matrix behind
    click-path mining, "what usually follows an error on this host",
    and bot detection (bots have unnaturally peaked rows).

    Ordering within a key is (ts, tiebreak) — a bare ts order would
    make the lead() nondeterministic under equal timestamps, which
    happens constantly in batchy log ingest. Last event of a key has
    no successor and contributes nothing. Probabilities are integer
    micro-units (DIV), so rows hash-match any engine.

    Shape: one window exchange keyed on ``key_col`` (each key's
    stream co-locates), then one partial-combining pair count and a
    broadcast-sized row-total join. The window state is a single
    lead(), not a buffer.
    """
    from pyspark.sql import Window
    w = (Window.partitionBy(key_col)
         .orderBy(F.col(ts_col), F.col(order_tiebreak)))
    pairs = (df.select(
        F.col(type_col).alias("prev_type"),
        F.lead(type_col).over(w).alias("next_type"))
        .filter(F.col("next_type").isNotNull()))
    counts = (pairs.groupBy("prev_type", "next_type")
              .agg(F.count(F.lit(1)).alias("n")))
    totals = counts.groupBy("prev_type").agg(
        F.sum("n").alias("__tot"))
    return (counts.join(F.broadcast(totals), "prev_type")
            .select("prev_type", "next_type", "n",
                    F.expr("n * 1000000 DIV __tot").alias("p_micro")))


def ewma_smooth(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    x_col: str = "x",
    order_by: Sequence[str] = ("event_id",),
    alpha_num: int = 2,
    alpha_den: int = 10,
    scale: int = 1000,
    spike_num: int = 25,
    spike_den: int = 10,
) -> DataFrame:
    """Per-key exponentially-weighted moving average over event time,
    in integer fixed-point, with a spike flag — the classic telemetry
    smoother (the sequential cousin of the windowed z-test in
    ``count_anomalies``).

    Recurrence, all BIGINT: ``s_1 = x_1·scale``; ``s_t = (alpha_num ·
    x_t·scale + (alpha_den − alpha_num) · s_{t−1}) // alpha_den``
    (floor division each step, so there is NO closed form — unlike the
    token bucket's uncapped accrual this genuinely recurses). A row
    spikes when ``x_t·scale·spike_den > spike_num·s_{t−1}`` (default:
    observed value above 2.5× the running smooth). Because every step
    is integer arithmetic, a recursive CTE replays the scan
    bit-for-bit — an exact oracle for a sequential operator.

    Scale shape: one hash exchange on ``key_col``, then an Arrow
    kernel per key (``applyInPandas``); the per-key scan is inherently
    sequential (each step's floor depends on the last), but keys run
    in parallel across the cluster and a key's cost is linear in its
    own rows. ``x_col`` must already be integral (pre-scale floats
    with an explicit ``round(...)·k`` so both engines agree on the
    quantization).

    Reference anchor: beats ships no smoother — metric consumers apply
    one downstream of ``libbeat/monitoring``; this is the curation/
    analytics-side extension surface (SURVEY §2.6).
    """
    from pyspark.sql import types as T
    import pandas as pd

    schema_out = T.StructType(
        list(df.schema.fields)
        + [T.StructField("ewma_milli", T.LongType()),
           T.StructField("spike", T.BooleanType())])
    a_n, a_d = int(alpha_num), int(alpha_den)
    sc, sp_n, sp_d = int(scale), int(spike_num), int(spike_den)
    sort_cols = [ts_col, *order_by]

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        out_s, out_spike = [], []
        s_prev = None
        # NULL observations count as 0 (same rule as sequence
        # packing's NaN tokens) — spelled coalesce(x, 0) in SQL
        for x in pdf[x_col].fillna(0).astype("int64").tolist():
            xs = x * sc
            if s_prev is None:
                s, spike = xs, False
            else:
                spike = xs * sp_d > sp_n * s_prev
                s = (a_n * xs + (a_d - a_n) * s_prev) // a_d
            out_s.append(s)
            out_spike.append(spike)
            s_prev = s
        out = pdf.copy()
        out["ewma_milli"] = pd.Series(out_s, index=pdf.index, dtype="int64")
        out["spike"] = pd.Series(out_spike, index=pdf.index, dtype="bool")
        return out

    return df.groupBy(key_col).applyInPandas(scan, schema=schema_out)


def merge_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Coalesce overlapping-or-touching intervals per key — outage
    windows, retry storms, span consolidation. An interval extends
    the current merged run when its start is at or before the running
    maximum end seen so far (``start <= max(end) so-far``; the max —
    not ``lag(end)`` — because an earlier long interval can swallow
    several later short ones).

    Single exchange: both window passes (the running max that marks
    run starts, and the running sum that numbers runs) share one
    ``partitionBy(key) orderBy(start, end)`` spec, then one aggregate
    on (key, run). Columns must be orderable and exact (integers /
    timestamps); output is ``(key, start, end, n_merged)`` per run.

    Reference anchor: no beats analogue; the events-layer sibling of
    gap :func:`sessionize` (points→sessions there, ranges→ranges
    here).
    """
    s, e = F.col(start_col), F.col(end_col)
    w = Window.partitionBy(key_col).orderBy(start_col, end_col)
    prev_max = F.max(e).over(w.rowsBetween(Window.unboundedPreceding, -1))
    new_run = (prev_max.isNull() | (s > prev_max)).cast("long")
    run = F.sum(new_run).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (df.select(key_col, s.alias("__s"), e.alias("__e"),
                      run.alias("__run"))
            .groupBy(key_col, "__run")
            .agg(F.min("__s").alias(start_col),
                 F.max("__e").alias(end_col),
                 F.count(F.lit(1)).alias("n_merged"))
            .drop("__run"))


def decayed_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    now: str,
    halflife_s: int = 86_400,
    max_halflives: int = 40,
) -> DataFrame:
    """Time-decayed frequency per key — the trending-score primitive
    (rank hosts/queries/templates by recent activity without a hard
    cutoff window): ``(key, n_events, score_micro)`` where each
    event contributes ``2^-(age/halflife)`` of weight, quantized to
    whole half-lives so the whole computation is integer bit-shifts:
    ``score_micro = Σ shiftright(10^6, min(age div halflife,
    max_halflives))`` — engine-exact, no ``pow``.

    ``now`` is an explicit ``'YYYY-MM-DD HH:MM:SS'`` anchor (passed
    in, never wall-clock — deterministic replay is the repo
    contract). Events after ``now`` clamp to bucket 0 (full weight).
    Past ``max_halflives`` (default 40: 10^6 >> 40 == 0) events
    contribute exactly nothing, which also bounds the shift.

    Shape: one map-side bucket projection + one partial-combining
    groupBy — a single exchange carrying (key, partial long sums);
    the classic streaming-compatible decay trick of bucketing by
    half-life instead of re-scoring on every read.
    """
    if halflife_s < 1:
        raise ValueError(f"decayed_counts: halflife_s must be >= 1, "
                         f"got {halflife_s}")
    if not 0 <= max_halflives <= 63:
        raise ValueError("decayed_counts: max_halflives must be in "
                         "[0, 63] (long shifts wrap mod 64)")
    age = (F.unix_micros(F.lit(now).cast("timestamp"))
           - F.unix_micros(F.col(ts_col).cast("timestamp")))
    staged = df.select(F.col(key_col),
                       F.greatest(age, F.lit(0)).alias("__age"))
    # integer DIV, not floor(double /): at an exact multiple of the
    # halflife a double quotient can round past the boundary before
    # flooring (the same 2^53 discipline as pagerank)
    bucket = F.least(
        F.expr(f"__age DIV {int(halflife_s) * 1_000_000}"),
        F.lit(max_halflives)).cast("int")
    # F.shiftright only takes a literal shift — SQL's takes a column.
    # The shifted value MUST be BIGINT: JVM int shifts wrap the count
    # mod 32, so shiftright(int 10^6, 40) silently becomes >> 8;
    # long shifts wrap mod 64, so any max_halflives <= 63 is exact
    # (and 10^6 >> 40 == 0, matching every non-wrapping engine).
    w = (staged.withColumn("__b", bucket)
         .withColumn("__w", F.expr(
             "shiftright(CAST(1000000 AS BIGINT), __b)")))
    return (w.select(F.col(key_col), "__w")
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("__w").alias("score_micro")))


def seasonal_anomaly(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    z_num: int = 3,
    z_den: int = 2,
) -> DataFrame:
    """Seasonal-baseline spike flags: hourly counts per key compared
    to the MEDIAN count of the SAME hour-of-day across all days —
    ``(key, day, hour, n, med2, is_spike)`` with ``is_spike ⇔
    n · 2 · z_den > z_num · med2`` (``med2 = 2·median``, the
    integer-median trick from the Hampel flags; defaults flag hours
    above 1.5× their seasonal median).

    The log-ops anomaly the plain z-test/EWMA misses: traffic has a
    daily shape, so "high for 3am" matters and "high for noon" may
    be normal — same-hour-of-day baselining is the standard first
    seasonal correction (holt-winters' seasonal term, quantized to
    the hour grid).

    Shape: one (key, day, hour) count aggregation, one (key, hour)
    median over the per-day counts, one join back keyed (key, hour)
    — the second agg and the join reuse one partitioning; integer
    cross-multiplication, no float threshold.
    """
    if z_num < 0 or z_den < 1:
        raise ValueError("seasonal_anomaly: bad z ratio")
    ts = F.col(ts_col).cast("timestamp")
    base = df.select(F.col(key_col).alias("key"),
                     F.to_date(ts).alias("day"),
                     F.hour(ts).cast("int").alias("hour"))
    counts = (base.groupBy("key", "day", "hour")
              .agg(F.count(F.lit(1)).alias("n")))
    med = (counts.groupBy("key", "hour")
           .agg((F.percentile(F.col("n"), 0.5) * 2)
                .cast("long").alias("med2")))
    return (counts.join(med, ["key", "hour"])
            .select(F.col("key").alias(key_col), "day", "hour", "n",
                    "med2",
                    (F.col("n") * 2 * z_den
                     > F.lit(z_num) * F.col("med2"))
                    .alias("is_spike")))


def slo_burn(
    df: DataFrame,
    ts_col: str,
    error_col: str,
    key_col: "str | None" = None,
    bucket_s: int = 3600,
    budget: "tuple[int, int]" = (1, 100),
    horizon: int = 6,
) -> DataFrame:
    """SLO error-budget burn rate (the Google SRE workbook's
    multiwindow alert input): per time bucket and optional key,
    ``burn_micro = error_rate / budget_rate`` in integer micro-units
    — 10^6 means errors are consuming budget exactly at the allowed
    rate, 14·10^6 is the classic page-now threshold — plus the
    ``horizon``-bucket rolling burn that makes slow burns visible.

    ``budget`` is the allowed error ratio as a rational ``(num,
    den)`` (default 1/100 = 99% SLO); both burns are one BIGINT
    cross-multiplied floor division: ``errs · den · 10^6 div
    (total · num)``. Empty-traffic buckets cannot occur (buckets
    exist only where events do); zero-error buckets burn 0.

    Scale shape: the raw 10^12-event stream collapses in ONE
    partial-combining aggregation to (key, bucket) counter pairs —
    the rolling window then runs over that tiny aggregated frame
    (per key: buckets-per-retention rows, thousands not trillions),
    with an integer RANGE frame so calendar gaps don't silently
    shrink the horizon. Output: ``(key?, bucket_start, n_events,
    n_errors, burn_micro, rolling_burn_micro)``.
    """
    num, den = budget
    if num < 1 or den < 1:
        raise ValueError("slo_burn: budget must be a positive "
                         "rational (num, den)")
    if horizon < 1:
        raise ValueError(f"slo_burn: horizon must be >= 1, "
                         f"got {horizon}")
    keys = [key_col] if key_col else []
    bidx = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) DIV "
                  f"{int(bucket_s) * 1_000_000}")
    agg = (df.groupBy(*keys, bidx.cast("long").alias("__b"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col(error_col).cast("long"))
                 .alias("n_errors")))
    w = (Window.partitionBy(*keys).orderBy("__b")
         .rangeBetween(-(horizon - 1), 0))
    re_ = F.sum("n_errors").over(w)
    rt = F.sum("n_events").over(w)
    return agg.select(
        *keys,
        F.timestamp_micros(F.col("__b") * bucket_s * 1_000_000)
         .alias("bucket_start"),
        "n_events", "n_errors",
        F.expr(f"(n_errors * {den} * 1000000) DIV "
               f"(n_events * {num})").alias("burn_micro"),
        (re_ * den * 1_000_000).cast("long").alias("__re"),
        (rt * num).cast("long").alias("__rt")) \
        .withColumn("rolling_burn_micro", F.expr("__re DIV __rt")) \
        .drop("__re", "__rt")


def rolling_quantile(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    x_col: str,
    frame_rows: int = 20,
    q_pct: int = 95,
    tie_cols: Sequence[str] = (),
) -> DataFrame:
    """Rolling nearest-rank quantile per key: each row gets the
    ``q_pct``-th percentile of its own trailing ``frame_rows``-row
    window — the live "p95 latency right now per host" readout.
    Nearest-rank (the ``ceil(q·n)``-th smallest), NOT interpolated:
    interpolation multiplies integers by an inexact binary fraction
    and two engines can disagree in the last ulp; the rank index
    ``(n·q_pct + 99) div 100`` is pure integer math, so the output
    VALUE is always an actual observed data point, engine-exact.

    Frame contents are collected and sorted per row — legal because
    ``frame_rows`` bounds the frame (document cost O(frame·log
    frame) per row); the exchange is the single key partitioning.
    Ordering within equal timestamps is pinned by ``tie_cols``
    (pass the event id — a bare ts order makes the WINDOW CONTENTS
    nondeterministic under batchy ingest, same rule as
    event_transitions). Output: input columns + ``q_value``.
    """
    if not 1 <= q_pct <= 100:
        raise ValueError(f"rolling_quantile: q_pct must be in "
                         f"[1, 100], got {q_pct}")
    if frame_rows < 1:
        raise ValueError("rolling_quantile: frame_rows must be >= 1")
    order = [F.col(ts_col), *[F.col(c) for c in tie_cols]]
    w = (Window.partitionBy(key_col).orderBy(*order)
         .rowsBetween(-(frame_rows - 1), 0))
    arr = F.array_sort(F.collect_list(F.col(x_col)).over(w))
    return (df.withColumn("__arr", arr)
            .withColumn(
                "q_value",
                F.expr(f"element_at(__arr, CAST((size(__arr) * "
                       f"{int(q_pct)} + 99) DIV 100 AS INT))"))
            .drop("__arr"))


def winsorize(
    df: DataFrame,
    value_col: str,
    by: Optional[str] = None,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    round_to: int = 6,
    out_col: Optional[str] = None,
    keep_bounds: bool = False,
) -> DataFrame:
    """Winsorize ``value_col``: clip to the [``p_lo``, ``p_hi``]
    exact interpolated percentiles (optionally per ``by`` group) —
    the standard robust-statistics cleanup before aggregating metric
    columns a few corrupt readings would otherwise dominate (a
    negative duration, a 2^31 sentinel latency).

    Thresholds use the same exact ``percentile`` aggregate as
    :func:`percentile_rollup` (engine-portable; rounded to
    ``round_to``), land in a groups-sized frame and BROADCAST back —
    the big side is never shuffled: one threshold agg over (group,
    value) pairs, then a codegen ``least(greatest(...))`` projection.
    Appends ``out_col`` (default ``{value_col}_w``) plus ``clip_lo``/
    ``clip_hi`` flags so callers can count or audit what moved;
    ``keep_bounds=True`` also keeps the thresholds as ``lo``/``hi``.
    """
    out_col = out_col or f"{value_col}_w"
    keys = [by] if by else []
    th = (df.groupBy(*keys).agg(
        F.round(F.percentile(F.col(value_col), F.lit(p_lo)), round_to)
         .alias("__lo"),
        F.round(F.percentile(F.col(value_col), F.lit(p_hi)), round_to)
         .alias("__hi")))
    j = (df.join(F.broadcast(th), keys) if keys
         else df.crossJoin(F.broadcast(th)))
    v = F.col(value_col)
    out = (j.withColumn(out_col,
                        F.least(F.greatest(v, F.col("__lo")),
                                F.col("__hi")))
            .withColumn("clip_lo", v < F.col("__lo"))
            .withColumn("clip_hi", v > F.col("__hi")))
    if keep_bounds:
        return (out.withColumnRenamed("__lo", "lo")
                   .withColumnRenamed("__hi", "hi"))
    return out.drop("__lo", "__hi")


def clock_skew(df: DataFrame, host_col: str, event_ts_col: str,
               recv_ts_col: str,
               threshold_ms: int = 60_000) -> DataFrame:
    """Per-host clock-skew detection: the shipper-fleet health check
    (the reference stamps both the event's own timestamp and the
    pipeline ingest time — ``libbeat/beat/event.go`` Timestamp vs
    ``@metadata`` receive path — and drifting host clocks are the
    classic cause of out-of-order windows downstream).

    Offset = receive − event time in integer milliseconds; per host:
    event count, exact median offset, and a ``skewed`` flag when
    ``|median| > threshold_ms``. Median (not mean) so a burst of
    delayed deliveries doesn't read as clock drift.

    Scale shape: one hash exchange carrying (host, offset_ms) pairs —
    16 bytes — into an exact-percentile agg (Spark ``percentile``
    buffers per group; hosts are a bounded fleet, offsets per host
    fit an executor). DuckDB ``quantile_cont`` parity, same as
    percentile_rollup."""
    ev = _epoch_us(df, event_ts_col)
    rv = _epoch_us(df, recv_ts_col)
    off = ((rv - ev) / F.lit(1000)).cast("long")
    pairs = df.select(F.col(host_col).alias("host"),
                      off.alias("offset_ms"))
    agg = pairs.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("percentile(offset_ms, 0.5)").alias("median_offset_ms"))
    return agg.select(
        "host", "n_events",
        F.round("median_offset_ms", 1).alias("median_offset_ms"),
        (F.abs(F.col("median_offset_ms")) > F.lit(threshold_ms))
        .alias("skewed"))


def bot_cadence(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    order_cols: tuple = ("event_id",),
    min_gaps: int = 10,
    max_cadence_micro: int = 100_000,
) -> DataFrame:
    """Inter-arrival-regularity bot detection: humans produce bursty,
    heavy-tailed gaps between actions; schedulers and scrapers tick.
    Per key, over gaps between consecutive events (ordered by
    ``(ts, *order_cols)`` — the total order the repo's window
    spellings always use), the **nearest-rank** p10/median/p90 of the
    gap distribution and ``cadence_micro = (p90 − p10) · 10^6 div
    median`` — a scale-free spread measure that is PURE integer
    arithmetic end-to-end (sort + rank-index + div), so it is
    bit-exact across engines where variance/stddev (float sums in
    partition order) never is. ``is_bot`` flags keys with at least
    ``min_gaps`` observed gaps whose relative spread is at most
    ``max_cadence_micro`` (default: p90−p10 within 10% of the median
    — a metronome).

    Scale shape: one hash exchange on key feeds the lag window and
    the per-key aggregate (same partitioning). The gap list is
    collected per key for the rank lookup — sized by events-per-key,
    the same bounded-key assumption every per-user window here makes;
    for unbounded keys use :func:`percentile_rollup`'s streaming
    spelling instead (documented trade, not a hidden one).
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col), *[F.col(c) for c in order_cols])
    us = _epoch_us(df, ts_col)
    gap = ((us - F.lag(us).over(w)) / 1000).cast("long")
    g = (df.select(F.col(key_col), gap.alias("__gap_ms"))
         .filter(F.col("__gap_ms").isNotNull()))
    agg = (g.groupBy(key_col)
           .agg(F.count(F.lit(1)).alias("n_gaps"),
                F.sort_array(F.collect_list("__gap_ms")).alias("__a")))
    n = F.col("n_gaps")
    p10 = F.element_at("__a", F.expr("CAST((n_gaps + 9) div 10 AS INT)"))
    med = F.element_at("__a", F.expr("CAST((n_gaps + 1) div 2 AS INT)"))
    p90 = F.element_at("__a",
                       F.expr("CAST((9 * n_gaps + 9) div 10 AS INT)"))
    out = (agg.select(key_col, "n_gaps",
                      med.alias("median_gap_ms"),
                      (p90 - p10).alias("spread_ms"))
           .withColumn("cadence_micro",
                       F.when(F.col("median_gap_ms") > 0,
                              F.expr("(spread_ms * 1000000) div "
                                     "median_gap_ms"))))
    return out.withColumn(
        "is_bot",
        (n >= int(min_gaps))
        & F.coalesce(F.col("cadence_micro") <= int(max_cadence_micro),
                     F.col("spread_ms") == 0))


def covisitation(
    df: DataFrame,
    session_cols: Sequence[str] = ("user_id",),
    item_col: str = "item",
    max_items_per_session: int = 50,
    top_n: int = 25,
) -> DataFrame:
    """Item co-occurrence over sessions (co-visitation — the
    association signal behind related-items / market-basket tables):
    for every unordered item pair, the number of sessions containing
    both, plus confidence and lift in integer micro-units.

    Exact fixed-point spec (both engines compute THIS, documented
    nested floor division — a single-expression lift would overflow
    BIGINT at ``10^6·N·c_ab``):
    ``conf_micro = (10^6·c_ab) div c_a`` (P(b|a) — requires
    c_ab ≤ 9.2·10^12) and ``lift_micro = (conf_micro · N) div c_b``
    (requires N < 9.2·10^12 sessions — comfortably above 100 TB of
    web logs).

    Scale shape: the pair census is a SELF-JOIN on the session key
    with ``item_a < item_b`` — candidates are bounded per session by
    ``max_items_per_session`` (deterministic keep: lowest item ids),
    so a pathological session can't go quadratic; everything after is
    partial-combining aggregation on (item, item) / item keys. The
    final top-``top_n`` is TakeOrderedAndProject, never a global
    sort.
    """
    sess = [F.col(c) for c in session_cols]
    items = (df.select(*sess, F.col(item_col).alias("__it"))
             .filter(F.col("__it").isNotNull())
             .distinct())
    wcap = Window.partitionBy(*session_cols).orderBy("__it")
    items = (items.withColumn("__rn", F.row_number().over(wcap))
             .filter(F.col("__rn") <= max_items_per_session)
             .drop("__rn")
             # consumed three times (pair self-join ×2 + item census)
             .localCheckpoint())
    n_sessions = items.select(*session_cols).distinct() \
                      .agg(F.count(F.lit(1)).alias("n_total"))
    c_item = items.groupBy("__it").agg(F.count(F.lit(1)).alias("c"))
    a = items.select(*sess, F.col("__it").alias("item_a"))
    b = items.select(*sess, F.col("__it").alias("item_b"))
    pairs = (a.join(b, list(session_cols))
             .filter(F.col("item_a") < F.col("item_b"))
             .groupBy("item_a", "item_b")
             .agg(F.count(F.lit(1)).alias("c_ab")))
    out = (pairs
           .join(F.broadcast(c_item.select(
               F.col("__it").alias("item_a"), F.col("c").alias("c_a"))),
               "item_a")
           .join(F.broadcast(c_item.select(
               F.col("__it").alias("item_b"), F.col("c").alias("c_b"))),
               "item_b")
           .join(F.broadcast(n_sessions))
           .withColumn("conf_micro",
                       F.expr("(1000000 * c_ab) DIV c_a"))
           .withColumn("lift_micro",
                       F.expr("(conf_micro * n_total) DIV c_b")))
    return (out.select("item_a", "item_b", "c_ab", "c_a", "c_b",
                       "conf_micro", "lift_micro")
            .orderBy(F.col("c_ab").desc(), "item_a", "item_b")
            .limit(top_n))


def ab_test(
    df: DataFrame,
    variant_col: str = "variant",
    key_col: str = "user_id",
    success_col: str = "converted",
    z: int = 2,
) -> DataFrame:
    """Two-proportion z-test between experiment arms (conversion-rate
    A/B readout) with the significance DECISION evaluated as an
    integer cross-multiplied inequality — the count_anomalies trick —
    so both engines flag identically, where a float
    ``|p̂₁−p̂₂| > z·√(p̂(1−p̂)(1/n₁+1/n₂))`` could disagree at the
    boundary:

    ``significant ⟺ d²·N > z²·C·(N−C)·n_a·n_b`` with
    ``d = c_a·n_b − c_b·n_a``, ``C = c_a+c_b``, ``N = n_a+n_b``, all
    in decimal(38,0) (≡ HUGEINT) — exact up to ~4·10^7 keys per arm
    (d²·N ≤ n⁵); beyond that, test on a deterministic key sample
    (documented bound, not a silent overflow: decimal overflow raises).

    Uses the lexicographic MIN and MAX variants; ``n_variants`` is
    emitted so a frame with a forgotten third arm is visible, not
    silently mis-read. Per-arm n/c are DISTINCT-key counts (a user
    converts once no matter how many purchase events they emit).

    Plan: one distinct-collapse exchange on (variant, key) — the only
    data-sized shuffle — then a 2-row aggregate and a single-row
    projection."""
    per_key = (df.groupBy(variant_col, key_col)
               .agg(F.max(F.col(success_col).cast("int")).alias("__s")))
    per_var = (per_key.groupBy(variant_col)
               .agg(F.count(F.lit(1)).alias("__n"),
                    F.sum("__s").alias("__c")))
    row = per_var.agg(
        F.count(F.lit(1)).cast("int").alias("n_variants"),
        F.min(variant_col).alias("variant_a"),
        F.max(variant_col).alias("variant_b"),
        F.min_by("__n", F.col(variant_col)).alias("n_a"),
        F.min_by("__c", F.col(variant_col)).alias("c_a"),
        F.max_by("__n", F.col(variant_col)).alias("n_b"),
        F.max_by("__c", F.col(variant_col)).alias("c_b"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    d = dec("c_a") * dec("n_b") - dec("c_b") * dec("n_a")
    big_c = dec("c_a") + dec("c_b")
    big_n = dec("n_a") + dec("n_b")
    lhs = d * d * big_n
    rhs = (F.lit(int(z) * int(z)).cast("decimal(38,0)")
           * big_c * (big_n - big_c) * dec("n_a") * dec("n_b"))
    p = lambda c, n: F.when(
        F.col(n) > 0,
        F.expr(f"(1000000 * {c}) DIV {n}")).cast("long")
    return row.select(
        "variant_a", "variant_b", "n_variants",
        "n_a", "c_a", "n_b", "c_b",
        p("c_a", "n_a").alias("p_a_micro"),
        p("c_b", "n_b").alias("p_b_micro"),
        (lhs > rhs).alias("significant"))


def km_survival(
    df: DataFrame,
    cohort_col: str = "cohort",
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Kaplan–Meier product-limit survival estimate per cohort
    (time-to-conversion / churn curves with right-censoring — the
    standard way to read "how long until a crawled page converts /
    a user purchases" without throwing censored subjects away).

    Input: one row per subject — integer ``duration`` (time units
    observed) and ``event`` (true = the event happened at that time,
    false = censored). Output: one row per (cohort, event time) with
    the risk-set size, event count, and the survival probability in
    integer micro-units.

    Exact fixed-point spec (both engines): event times ascending;
    ``n_i = N − Σ_{t<t_i} ended(t)`` (risk set),
    ``S_0 = 10^6; S_i = (S_{i−1}·(n_i − d_i)) div n_i`` — the
    per-step integer rounding IS the spec, mirrored by a recursive
    CTE in the oracle.

    Scale shape: one exchange keyed on (cohort, duration) for the
    per-time census; the risk set is a window cumsum on the CENSUS
    (rows = distinct durations per cohort, not subjects); the
    sequential product folds over a per-cohort collected array —
    bounded by distinct EVENT times per cohort, the same bounded-key
    assumption bot_cadence documents (a cohort with 10^9 distinct
    event times needs a coarser time unit, not this operator).
    """
    ev = F.col(event_col).cast("int")
    census = (df.groupBy(cohort_col, duration_col)
              .agg(F.count(F.lit(1)).alias("__ended"),
                   F.sum(ev).alias("__d")))
    wcum = (Window.partitionBy(cohort_col).orderBy(duration_col)
            .rowsBetween(Window.unboundedPreceding, -1))
    wall = Window.partitionBy(cohort_col)
    at_risk = (census
               .withColumn("__n",
                           F.sum("__ended").over(wall)
                           - F.coalesce(F.sum("__ended").over(wcum),
                                        F.lit(0)))
               .filter(F.col("__d") > 0))
    steps = (at_risk.groupBy(cohort_col)
             .agg(F.sort_array(F.collect_list(F.struct(
                 F.col(duration_col).cast("long").alias("t"),
                 F.col("__n").cast("long").alias("n"),
                 F.col("__d").cast("long").alias("d")))).alias("__a")))
    zero = F.struct(
        F.lit(1_000_000).cast("long").alias("s"),
        F.array().cast(
            "array<struct<t:bigint,n:bigint,d:bigint,s:bigint>>")
         .alias("out"))

    def fold(acc, x):
        # S_i = (S_{i-1}·(n−d)) div n, exactly: subtract the modulus
        # first so the double division is exact (quotient ≤ 10^6,
        # far under 2^53) — HOF lambdas have no DIV operator
        num = acc["s"] * (x["n"] - x["d"])
        s2 = ((num - num % x["n"]) / x["n"]).cast("long")
        return F.struct(
            s2.alias("s"),
            F.concat(acc["out"], F.array(F.struct(
                x["t"].alias("t"), x["n"].alias("n"),
                x["d"].alias("d"), s2.alias("s")))).alias("out"))

    folded = steps.select(
        cohort_col,
        F.explode(F.aggregate("__a", zero, fold)["out"]).alias("__k"))
    return folded.select(
        cohort_col,
        F.col("__k.t").alias(duration_col),
        F.col("__k.n").alias("n_risk"),
        F.col("__k.d").alias("d_events"),
        F.col("__k.s").alias("surv_micro"))


def cusum_alarms(
    df: DataFrame,
    key_col: str = "key",
    order_col: str = "seq",
    value_col: str = "x_micro",
    target_micro: int = 0,
    slack_micro: int = 0,
    threshold_micro: int = 1_000_000,
) -> DataFrame:
    """Two-sided CUSUM change-point detection per key (Page 1954) —
    the drift detector that catches slow mean shifts the z-test and
    EWMA spike flags miss:
    ``S⁺_i = max(0, S⁺_{i−1} + (x_i − μ − k))``,
    ``S⁻_i = max(0, S⁻_{i−1} − (x_i − μ) − k)``; an alarm fires when
    either statistic exceeds ``h``, and BOTH reset to 0 after an
    alarm (restart detection, the standard practice). All integer
    micro-units — the recurrence is pure integer arithmetic, so both
    engines flag identical change points.

    Output: one row per alarm — ``(key, order, direction ('up' /
    'down'), stat_micro)`` (the exceeding statistic's value).

    Scale shape: one exchange keyed on ``key``; the sequential
    recurrence folds over a per-key collected array, bounded by
    events-per-key (bot_cadence's documented bounded-key assumption;
    for unbounded keys run it on a pre-bucketed counter table where
    rows-per-key = time buckets). The oracle replays the fold with a
    recursive CTE."""
    mu, k, h = int(target_micro), int(slack_micro), int(threshold_micro)
    if k < 0 or h <= 0:
        raise ValueError("slack_micro must be >= 0 and "
                         "threshold_micro > 0")
    pts = (df.groupBy(key_col)
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(order_col).cast("long").alias("o"),
               F.col(value_col).cast("long").alias("x"))))
               .alias("__a")))
    zero = F.struct(
        F.lit(0).cast("long").alias("sp"),
        F.lit(0).cast("long").alias("sn"),
        F.array().cast(
            "array<struct<o:bigint,d:string,s:bigint>>").alias("out"))

    def fold(acc, x):
        sp = F.greatest(F.lit(0).cast("long"),
                        acc["sp"] + (x["x"] - F.lit(mu) - F.lit(k)))
        sn = F.greatest(F.lit(0).cast("long"),
                        acc["sn"] - (x["x"] - F.lit(mu)) - F.lit(k))
        up = sp > F.lit(h)
        dn = sn > F.lit(h)
        alarm = F.when(up, F.array(F.struct(
            x["o"].alias("o"), F.lit("up").alias("d"),
            sp.alias("s")))) \
            .when(dn, F.array(F.struct(
                x["o"].alias("o"), F.lit("down").alias("d"),
                sn.alias("s")))) \
            .otherwise(F.array().cast(
                "array<struct<o:bigint,d:string,s:bigint>>"))
        reset = up | dn
        return F.struct(
            F.when(reset, F.lit(0).cast("long")).otherwise(sp)
             .alias("sp"),
            F.when(reset, F.lit(0).cast("long")).otherwise(sn)
             .alias("sn"),
            F.concat(acc["out"], alarm).alias("out"))

    return (pts.select(
        key_col,
        F.explode(F.aggregate("__a", zero, fold)["out"]).alias("__k"))
        .select(key_col,
                F.col("__k.o").alias(order_col),
                F.col("__k.d").alias("direction"),
                F.col("__k.s").alias("stat_micro")))


def coec_scores(
    df: DataFrame,
    item_col: str = "item",
    position_col: str = "position",
    clicked_col: str = "clicked",
) -> DataFrame:
    """COEC — Clicks Over Expected Clicks (Zhang & Jones 2007), the
    standard position-bias correction for search/feed logs: an item's
    raw CTR is confounded by where it was shown; COEC divides its
    clicks by the clicks EXPECTED from its positions (the global
    per-position CTR), so > 10^6 micro means "better than position
    alone explains".

    Fixed point (documented nested floor divisions — the
    single-expression ``10^12·clicks div expected`` would overflow
    BIGINT past ~9·10^6 clicks/item): position prior
    ``ctr_micro[p] = (10^6·clicks_p) div imps_p``; per item
    ``expected_micro = Σ ctr_micro[position]`` over its impressions;
    ``coec_micro = 10^12 div greatest(1, expected_micro div
    clicks)`` — 0 when the item has no clicks; the greatest(1,·)
    caps COEC at 10^12 (10^6× expectation) when the prior predicts
    less than one micro-click per actual click, instead of dividing
    by zero.

    Plan: the position prior is a tiny aggregate (positions, not
    impressions) joined back BROADCAST; per-item rollup is one
    partial-combining groupBy. Two data-proportional map passes, one
    item-keyed exchange."""
    clk = F.col(clicked_col).cast("int")
    prior = (df.groupBy(position_col)
             .agg(F.count(F.lit(1)).alias("__imps"),
                  F.sum(clk).alias("__clicks"))
             .select(position_col,
                     F.expr("(1000000 * __clicks) DIV __imps")
                      .alias("__ctr_micro")))
    per_item = (df.join(F.broadcast(prior), position_col)
                .groupBy(item_col)
                .agg(F.count(F.lit(1)).alias("imps"),
                     F.sum(clk).cast("long").alias("clicks"),
                     F.sum("__ctr_micro").cast("long")
                      .alias("expected_micro")))
    return per_item.select(
        item_col, "imps", "clicks", "expected_micro",
        F.when(F.col("clicks") == 0, F.lit(0).cast("long"))
         .otherwise(F.expr("1000000000000 DIV "
                           "greatest(1, expected_micro DIV clicks)"))
         .cast("long").alias("coec_micro"))


def position_attribution(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    channel_col: str = "channel",
    conv_col: str = "converted",
    order_cols: tuple = ("event_id",),
) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution:
    for each key's FIRST conversion, credit the touchpoints strictly
    before it — 40% to the first touch, 40% to the last, the middle
    20% split across interior touches. Exact micro-unit spec (credits
    per conversion sum to exactly 10^6): 1 touch → 10^6; 2 touches →
    500000 each; m ≥ 3 → 400000 / 400000, interior base
    ``200000 div (m−2)`` with the ``200000 mod (m−2)`` remainder
    given to the EARLIEST interiors, one micro each.

    Output: per channel — ``(channel, touches, credit_micro)``
    totals. Keys without a conversion contribute nothing.

    Plan: one partitionBy(key) exchange feeds the conversion-time
    window, the touch ranking, and the touch count; the final rollup
    is a partial-combining groupBy on channel. No joins, no
    explode."""
    w = Window.partitionBy(key_col)
    conv_ts = F.min(F.when(F.col(conv_col), F.col(ts_col))).over(w)
    base = (df.withColumn("__cts", conv_ts)
            .filter(F.col("__cts").isNotNull()
                    & (F.col(ts_col) < F.col("__cts"))))
    order = [F.col(ts_col)] + [F.col(c) for c in order_cols]
    wo = Window.partitionBy(key_col).orderBy(*order)
    wn = Window.partitionBy(key_col)
    ranked = (base.withColumn("__r", F.row_number().over(wo))
              .withColumn("__m", F.count(F.lit(1)).over(wn)))
    m, r = F.col("__m"), F.col("__r")
    interior = F.expr("200000 DIV (__m - 2)") \
        + F.when(r - 1 <= F.expr("200000 % (__m - 2)"), F.lit(1)) \
           .otherwise(F.lit(0))
    credit = (F.when(m == 1, F.lit(1_000_000))
              .when(m == 2, F.lit(500_000))
              .when(r == 1, F.lit(400_000))
              .when(r == m, F.lit(400_000))
              .otherwise(interior)).cast("long")
    return (ranked.withColumn("__credit", credit)
            .groupBy(channel_col)
            .agg(F.count(F.lit(1)).alias("touches"),
                 F.sum("__credit").cast("long").alias("credit_micro")))


def counter_rates(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    counter_col: str,
) -> DataFrame:
    """Monotonic-counter → per-second rate with counter-reset
    detection — what every metrics consumer does first with the
    cumulative counters a collector ships (the reference's metricbeat
    emits point-in-time counter SAMPLES — e.g.
    ``metricbeat/module/system/network/network.go`` ships raw
    interface byte counters — and leaves differentiation to the
    backend; this engine does it natively). Per key ordered by time:
    ``delta = counter − prev``, unless the counter went BACKWARDS —
    a daemon restart reset it — in which case the sample's own value
    is the best lower bound for the interval (the standard
    Prometheus/rrdtool reset rule). ``rate_micro = delta · 10^12 div
    dt_us`` (micro-units per second, exact integer; the product rides
    decimal(38,0) so a 10^18 counter times 10^12 cannot overflow).

    Output: one row per CLOSED interval ``(key, ts, delta, dt_us,
    was_reset, rate_micro)`` — each key's first sample opens the
    series and emits nothing. Zero-dt duplicate timestamps yield NULL
    rate (undefined, not ±inf), flagged by ``dt_us = 0``.

    Plan: ONE hash exchange on the key + in-partition sort; both lags
    share the same Window frame (a single Window node) and everything
    after is a codegen projection — per-key cost linear in its own
    samples, no skew amplification.

    Tied timestamps (duplicate ``(key, ts)`` samples) are ordered by
    the counter value itself so the lag — and therefore ``delta`` /
    ``was_reset`` on the tied rows — is deterministic across runs and
    engines; the catalog oracle carries the identical tiebreaker.
    (The streaming form ``stateful_counter_rates`` instead marks a
    tied sample late (``dt_us = -1``) — its state cannot order ties
    across micro-batches — so batch↔streaming parity holds on
    strictly increasing per-key timestamps.)
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, "__c")
    us = _epoch_us(df, ts_col)
    base = (df.select(key_col, ts_col,
                      F.col(counter_col).cast("long").alias("__c"))
            .withColumn("__us", us)
            .withColumn("__pc", F.lag("__c").over(w))
            .withColumn("__pus", F.lag("__us").over(w))
            .filter(F.col("__pc").isNotNull()))
    reset = F.col("__c") < F.col("__pc")
    delta = F.when(reset, F.col("__c")) \
             .otherwise(F.col("__c") - F.col("__pc"))
    dt = F.col("__us") - F.col("__pus")
    rate = F.when(
        F.col("dt_us") > 0,
        F.expr("cast(delta as decimal(38,0)) * 1000000000000 DIV "
               "cast(dt_us as decimal(38,0))"))
    return (base.withColumn("delta", delta.cast("long"))
            .withColumn("dt_us", dt.cast("long"))
            .withColumn("was_reset", reset)
            .withColumn("rate_micro", rate.cast("long"))
            .select(key_col, ts_col, "delta", "dt_us", "was_reset",
                    "rate_micro"))


def trend_slope(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-key ordinary-least-squares trend slope in exact integer
    fixed point — the capacity-planning readout over per-day metric
    rollups (is this host's error rate / this domain's crawl volume
    trending up, and how fast): ``slope_micro = 10^6 · (n·Σxy −
    Σx·Σy) div (n·Σx² − (Σx)²)`` — micro-y-units per x-unit, integer
    division truncated toward zero (Spark decimal ``DIV`` ≡ DuckDB
    ``//``, the repo-wide fixed-point convention — exact on negative
    slopes too), NULL when a key has a single distinct x (the
    Cauchy-Schwarz denominator is otherwise strictly positive).
    Output: ``(key, n, slope_micro)``.

    Exactness: the five sufficient statistics (n, Σx, Σy, Σxy, Σx²)
    accumulate as decimal(38,0) (DuckDB: HUGEINT), so both engines
    produce the identical BIGINT slope with no float path anywhere.
    Intended inputs are pre-aggregated series — x as a small index
    (day number), y as a bounded rollup — keeping every product
    within decimal-38 even at 10^12 source rows (the rollup feeding
    this is where the data-proportional work happens).

    Plan: ONE partial-combining groupBy on the key; the slope is a
    scalar expression over the aggregate row. Nothing sorted, nothing
    windowed, nothing joined.
    """
    d38 = "decimal(38,0)"
    x = F.expr(f"cast({x_col} as {d38})")
    yv = F.expr(f"cast({y_col} as {d38})")
    agg = (df.groupBy(key_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(x).alias("__sx"),
                F.sum(yv).alias("__sy"),
                F.sum(x * yv).alias("__sxy"),
                F.sum(x * x).alias("__sxx")))
    den = F.expr(f"cast(n as {d38}) * __sxx - __sx * __sx")
    num_micro = (f"(cast(n as {d38}) * __sxy - __sx * __sy) "
                 f"* cast(1000000 as {d38})")
    slope = F.when(
        den != 0,
        F.expr(f"{num_micro} DIV "
               f"(cast(n as {d38}) * __sxx - __sx * __sx)"))
    return agg.select(key_col, "n", slope.cast("long")
                      .alias("slope_micro"))


def apdex(
    df: DataFrame,
    key_col: str,
    latency_col: str,
    threshold_micro: int,
) -> DataFrame:
    """Apdex score per key (the Apdex Alliance spec every APM tool
    implements): with target latency T, a request is *satisfied*
    (≤ T), *tolerating* (≤ 4T) or frustrated; ``apdex = (satisfied +
    tolerating/2) / n``, carried exactly as ``apdex_micro =
    (2·satisfied + tolerating) · 10^6 div (2·n)`` — ties to the spec's
    half-weight without a float. Output: ``(key, n, satisfied,
    tolerating, apdex_micro)``.

    Plan: a map-side CASE projection + ONE partial-combining groupBy;
    the classic dashboard query shape that must stay a single
    exchange at any scale.
    """
    if threshold_micro <= 0:
        raise ValueError("apdex: threshold_micro must be positive, "
                         f"got {threshold_micro}")
    lat = F.col(latency_col)
    sat = (lat <= threshold_micro).cast("int")
    tol = ((lat > threshold_micro)
           & (lat <= 4 * threshold_micro)).cast("int")
    return (df.select(F.col(key_col), sat.alias("__s"),
                      tol.alias("__t"))
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("__s").cast("long").alias("satisfied"),
                 F.sum("__t").cast("long").alias("tolerating"),
                 F.expr("(2 * sum(__s) + sum(__t)) * 1000000 DIV "
                        "(2 * count(1))").cast("long")
                 .alias("apdex_micro")))


def fano_burstiness(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    bucket_s: int = 60,
) -> DataFrame:
    """Per-key burstiness as the Fano factor (index of dispersion) of
    per-bucket event counts — variance/mean over the key's OWN active
    span, empty buckets included: a Poisson-steady source reads
    ~10^6 micro, machine-gun bursts read far above, a metronome bot
    (cf. :func:`bot_cadence`) far below. The classic traffic-shape
    screen over parsed logs.

    With ``m`` = buckets spanning the key's first..last event
    (inclusive) and counts ``c_i`` (Σc = n): population variance over
    all m buckets — zeros included without materializing them — gives
    ``fano = (m·Σc² − n²) / (m·n)``, reported exactly as
    ``fano_micro = (m·Σc² − n²) · 10^6 div (m·n)`` with the products
    in decimal(38,0). A key whose events all land in one bucket has
    zero variance → fano 0 (m = 1 makes m·Σc² = n² exactly). Output:
    ``(key, n, m_buckets, fano_micro)``.

    Plan: one partial-combining groupBy on (key, bucket) — the
    shuffle carries key + a long — then one groupBy on the key.
    Empty buckets enter through arithmetic (m from min/max bucket),
    never through a generate/explode.
    """
    if bucket_s < 1:
        raise ValueError(f"fano_burstiness: bucket_s must be >= 1, "
                         f"got {bucket_s}")
    us = _epoch_us(df, ts_col)
    b = (us / F.lit(int(bucket_s) * 1_000_000)).cast("long")
    per = (df.select(F.col(key_col), b.alias("__b"))
           .groupBy(key_col, "__b")
           .agg(F.count(F.lit(1)).alias("__c")))
    d38 = "decimal(38,0)"
    agg = (per.groupBy(key_col)
           .agg(F.sum("__c").cast("long").alias("n"),
                (F.max("__b") - F.min("__b") + 1).alias("m_buckets"),
                F.sum(F.expr(f"cast(__c as {d38}) * cast(__c as {d38})"))
                .cast(d38).alias("__cc")))
    fano = F.expr(
        f"(cast(m_buckets as {d38}) * __cc "
        f"- cast(n as {d38}) * cast(n as {d38})) * 1000000 DIV "
        f"(cast(m_buckets as {d38}) * cast(n as {d38}))")
    return agg.select(key_col, "n", "m_buckets",
                      fano.cast("long").alias("fano_micro"))


def holt_smooth(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    x_col: str = "x",
    order_by: Sequence[str] = ("event_id",),
    alpha_num: int = 2,
    alpha_den: int = 10,
    beta_num: int = 1,
    beta_den: int = 10,
    scale: int = 1000,
) -> DataFrame:
    """Per-key Holt double-exponential smoothing (level + trend) in
    integer fixed point — :func:`ewma_smooth` plus the trend term,
    i.e. the one-step capacity forecast (``level + trend``) every
    "will this host/domain blow its budget tomorrow" dashboard runs.

    Recurrence, all BIGINT with division TRUNCATED TOWARD ZERO
    (trend goes negative, and Python's ``//`` floors while DuckDB's
    ``//`` and Spark's ``DIV`` truncate — the kernel spells
    truncation explicitly so the recursive-CTE oracle replays it
    bit-for-bit):

    - ``l_1 = x_1·scale``, ``b_1 = 0``;
    - ``l_t = trunc((α_n·x_t·scale + (α_d−α_n)·(l+b)) / α_d)``
    - ``b_t = trunc((β_n·(l_t−l) + (β_d−β_n)·b) / β_d)``

    Adds ``level_milli`` and ``trend_milli`` per row (``scale`` =
    1000 by default). No closed form exists (per-step truncation),
    exactly like the EWMA — this is the genuinely sequential class.

    Scale shape: one hash exchange on the key, Arrow kernel per key;
    keys parallelize, a key's cost is linear in its own rows. NULL
    observations count as 0 (``coalesce(x, 0)`` in the oracle).
    """
    from pyspark.sql import types as T
    import pandas as pd

    schema_out = T.StructType(
        list(df.schema.fields)
        + [T.StructField("level_milli", T.LongType()),
           T.StructField("trend_milli", T.LongType())])
    a_n, a_d = int(alpha_num), int(alpha_den)
    b_n, b_d = int(beta_num), int(beta_den)
    sc = int(scale)
    sort_cols = [ts_col, *order_by]

    def tdiv(a: int, d: int) -> int:
        q = a // d
        if q < 0 and q * d != a:
            q += 1
        return q

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        levels, trends = [], []
        lv = tr = None
        for x in pdf[x_col].fillna(0).astype("int64").tolist():
            xs = x * sc
            if lv is None:
                lv, tr = xs, 0
            else:
                prev = lv
                lv = tdiv(a_n * xs + (a_d - a_n) * (lv + tr), a_d)
                tr = tdiv(b_n * (lv - prev) + (b_d - b_n) * tr, b_d)
            levels.append(lv)
            trends.append(tr)
        out = pdf.copy()
        out["level_milli"] = pd.Series(levels, index=pdf.index,
                                       dtype="int64")
        out["trend_milli"] = pd.Series(trends, index=pdf.index,
                                       dtype="int64")
        return out

    return df.groupBy(key_col).applyInPandas(scan, schema=schema_out)


def weighted_percentiles(
    df: DataFrame,
    key_col: str,
    value_col: str,
    weight_col: str,
    quantiles: Sequence[float] = (0.5, 0.95),
    order_by: Sequence[str] = (),
) -> DataFrame:
    """Exact WEIGHTED per-key percentiles — the lower weighted
    quantile: smallest value whose cumulative weight reaches
    ``ceil(q·W)``. What byte-weighted response-size or
    duration-weighted latency dashboards need where the unweighted
    :func:`percentile_rollup` misleads (one 10 GB response matters
    more than a thousand 1 KB ones). Output: ``(key, q_micro, value,
    n, total_weight)``.

    All integer: weights must be non-negative BIGINTs; the rank
    threshold is ``(q_micro·W + 999999) div 10^6`` — the same
    ceil-rank rule as :func:`beats_analytics.sketch
    .hdr_percentiles`, but exact over raw values instead of bucketed.
    Zero-weight rows cannot be selected (they add nothing to the
    cumulative weight and the threshold is ≥ 1 whenever W ≥ 1).

    Plan: ONE hash exchange on the key + in-partition sort feeds the
    cumulative-weight window; the ≤ |qs| explode fans each row out
    only after the window, and one partial-combining groupBy on
    (key, q) takes the min qualifying value. Per-key cost is linear
    in its own rows × |qs|.
    """
    if not quantiles:
        raise ValueError("weighted_percentiles: need at least one "
                         "quantile")
    for q in quantiles:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"weighted_percentiles: q must be in "
                             f"(0, 1], got {q}")
    order = [F.col(value_col)] + [F.col(c) for c in order_by]
    w = Window.partitionBy(key_col).orderBy(*order) \
        .rowsBetween(Window.unboundedPreceding, 0)
    wk = Window.partitionBy(key_col)
    qs = F.array(*[F.lit(int(round(q * 1_000_000)))
                   for q in quantiles])
    cum = (df.select(key_col, value_col,
                     F.col(weight_col).cast("long").alias("__w"))
           .withColumn("__cum", F.sum("__w").over(w))
           .withColumn("__W", F.sum("__w").over(wk))
           .withColumn("__n", F.count(F.lit(1)).over(wk))
           .withColumn("q_micro", F.explode(qs)))
    need = F.expr("(q_micro * __W + 999999) DIV 1000000")
    hit = cum.filter(F.col("__cum") >= need)
    return (hit.groupBy(key_col, "q_micro")
            .agg(F.min(value_col).alias("value"),
                 F.min("__n").alias("n"),
                 F.min("__W").alias("total_weight")))


def sequence_gaps(
    df: DataFrame,
    key_col: str,
    seq_col: str,
) -> DataFrame:
    """Per-key sequence-number gap audit — did we lose events? The
    winlogbeat bookkeeping question (``winlogbeat/checkpoint/
    checkpoint.go:63`` persists the per-channel ``record_number``
    exactly so a reader can prove continuity; kafka offsets and
    syslog msg ids pose the same audit). For each key ordered by the
    sequence number: a gap is ``seq − prev_seq − 1`` missing records;
    duplicates (``seq = prev``) are counted separately.

    Output one row per key: ``(key, n, first_seq, last_seq,
    n_missing, n_dups, n_gaps)`` where ``n_missing = Σ gaps``,
    ``n_gaps`` counts the gap intervals, and for a duplicate-free
    key ``n + n_missing = last_seq − first_seq + 1`` (the identity
    the audit rests on; unit-tested).

    Plan: ONE hash exchange on the key feeds both the lag window and
    the per-key rollup (same partitioning — Spark reuses the
    exchange); only (key, seq) longs move.
    """
    w = Window.partitionBy(key_col).orderBy("__s")
    base = (df.select(key_col,
                      F.col(seq_col).cast("long").alias("__s"))
            .withColumn("__p", F.lag("__s").over(w)))
    gap = F.when(F.col("__p").isNotNull()
                 & (F.col("__s") > F.col("__p") + 1),
                 F.col("__s") - F.col("__p") - 1).otherwise(0)
    dup = (F.col("__p").isNotNull()
           & (F.col("__s") == F.col("__p"))).cast("long")
    return (base.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("__s").alias("first_seq"),
                 F.max("__s").alias("last_seq"),
                 F.sum(gap).cast("long").alias("n_missing"),
                 F.sum(dup).cast("long").alias("n_dups"),
                 F.sum((gap > 0).cast("long")).cast("long")
                 .alias("n_gaps")))


def gapfill_series(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
    value_col: str,
    step: int = 1,
) -> DataFrame:
    """Dense per-key time series: fill the missing buckets between
    each key's first and last observed bucket with zero rows — what
    every charting/alerting consumer needs before rate math or
    moving windows (a missing bucket is a 0, not an absent point;
    cf. :func:`fano_burstiness`, which handles emptiness
    arithmetically instead because it only needs moments). Output:
    ``(key, bucket, value, is_filled)``.

    Plan: per-key min/max aggregate (one exchange on the key) →
    ``sequence()`` explode generates the dense spine (fan-out =
    span/step per key, the inherent output size) → LEFT broadcast?
    no — the spine and the observations hash-join on (key, bucket),
    both sides already partitioned by key. Duplicate (key, bucket)
    observations are rejected loudly via an assert column — fill
    semantics are undefined over duplicates (pre-aggregate first).

    ``is_filled`` is driven by a literal presence marker on the
    observation side of the join, NOT by the value being NULL — an
    observed row whose value is NULL keeps its NULL (and
    ``is_filled = false``) instead of being silently conflated with
    an absent bucket.
    """
    if step < 1:
        raise ValueError(f"gapfill_series: step must be >= 1, "
                         f"got {step}")
    b = F.col(bucket_col).cast("long")
    obs = df.select(F.col(key_col), b.alias("__b"),
                    F.col(value_col).alias("__v"))
    dup_guard = (obs.groupBy(key_col, "__b")
                 .agg(F.count(F.lit(1)).alias("__c"),
                      F.first("__v").alias("__v")))
    checked = dup_guard.withColumn(
        "__v",
        F.when(F.assert_true(
            F.col("__c") == 1,
            F.lit("gapfill_series: duplicate (key, bucket) rows — "
                  "pre-aggregate first")).isNull(), F.col("__v")))
    spine = (obs.groupBy(key_col)
             .agg(F.min("__b").alias("__lo"),
                  F.max("__b").alias("__hi"))
             .select(key_col,
                     F.explode(F.sequence(
                         F.col("__lo"), F.col("__hi"),
                         F.lit(int(step)))).alias("__b")))
    joined = spine.join(
        checked.select(key_col, "__b", "__v",
                       F.lit(True).alias("__obs")),
        [key_col, "__b"], "left")
    return joined.select(
        F.col(key_col),
        F.col("__b").alias(bucket_col),
        F.when(F.col("__obs").isNull(), F.lit(0))
        .otherwise(F.col("__v")).alias(value_col),
        F.col("__obs").isNull().alias("is_filled"))


def rolling_active_users(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Exact rolling distinct actives — the DAU/WAU/MAU family: for
    every day in the observed range, how many distinct users were
    seen in the trailing ``window_days`` (inclusive of that day).
    Output: ``(day, n_active)`` with ``day`` as epoch days.

    The exact spelling: dedup to distinct (user, day) pairs (one
    exchange, the data-proportional step), then each pair contributes
    to the ``window_days`` report days it is visible from — a bounded
    ×W explode — and a count_distinct per report day closes it.
    Report days past the last observed day are clipped (a trailing
    window must not invent future days). The fan-out is the price of
    EXACT rolling distinct; the sketch path for 100 TB dashboards is
    :func:`beats_analytics.sketch.hll_registers` merged over a
    window (see ``hll_windowed``), which replaces the ×W explode
    with register unions.

    Plan: distinct-pair exchange → in-plan scalar max-day broadcast →
    explode → one partial-combining count_distinct exchange on the
    report day (Expand for the distinct). Nothing wider than
    (user, day) ever moves.
    """
    if window_days < 1:
        raise ValueError(f"rolling_active_users: window_days must "
                         f"be >= 1, got {window_days}")
    us = _epoch_us(df, ts_col)
    pairs = (df.select(F.col(user_col).alias("__u"),
                       (us / F.lit(86_400_000_000)).cast("long")
                       .alias("__d"))
             .distinct())
    mx = pairs.agg(F.max("__d").alias("__mx"))
    w = int(window_days)
    return (pairs.join(F.broadcast(mx))
            .select("__u",
                    F.explode(F.sequence(
                        F.col("__d"),
                        F.least(F.col("__d") + (w - 1),
                                F.col("__mx")))).alias("day"))
            .groupBy("day")
            .agg(F.count_distinct("__u").alias("n_active")))


def metric_correlation(
    df: DataFrame,
    bucket_col: str,
    metric_col: str,
    value_col: str,
) -> DataFrame:
    """Pairwise Pearson correlation between metric series — the
    incident-correlation readout (which metrics move together) over a
    tall ``(bucket, metric, value)`` table. Output per unordered pair:
    ``(metric_a, metric_b, n, r2_micro, sign)`` where ``r2_micro`` is
    the squared correlation in exact micro-units and ``sign`` the
    direction (+1/-1/0) — r itself needs a square root, so the engine
    reports the exact r² and sign instead of an inexact r.

    Fixed point: ``num = n·Σxy − Σx·Σy``, ``dx = n·Σx² − (Σx)²``,
    ``dy`` likewise, all decimal(38,0); ``r2_micro = num²·10^6 div
    (dx·dy)``, NULL when either series is constant. Exactness bound
    (documented, loud in review not silent at runtime): ``num² ≤
    10^38`` needs ``|value| ≤ ~10^5`` at 10^4 buckets — feed
    pre-bucketed counts or downscaled gauges, which is what the op
    is for.

    Plan: ONE hash exchange on the bucket for the self-join (pair
    fan-out = #metrics² per bucket — metrics are a bounded
    vocabulary, documented), then one partial-combining groupBy on
    the pair. Buckets with a metric absent simply contribute no pair
    row for it (inner-join semantics: correlation over co-observed
    buckets).
    """
    a = df.select(F.col(bucket_col).alias("__b"),
                  F.col(metric_col).alias("metric_a"),
                  F.col(value_col).cast("long").alias("__x"))
    b = df.select(F.col(bucket_col).alias("__b"),
                  F.col(metric_col).alias("metric_b"),
                  F.col(value_col).cast("long").alias("__y"))
    d38 = "decimal(38,0)"
    pairs = (a.join(b, "__b")
             .filter(F.col("metric_a") < F.col("metric_b")))
    agg = (pairs.groupBy("metric_a", "metric_b")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.expr(f"cast(__x as {d38})")).alias("__sx"),
                F.sum(F.expr(f"cast(__y as {d38})")).alias("__sy"),
                F.sum(F.expr(f"cast(__x as {d38}) * cast(__y as {d38})"))
                .alias("__sxy"),
                F.sum(F.expr(f"cast(__x as {d38}) * cast(__x as {d38})"))
                .alias("__sxx"),
                F.sum(F.expr(f"cast(__y as {d38}) * cast(__y as {d38})"))
                .alias("__syy")))
    num = f"(cast(n as {d38}) * __sxy - __sx * __sy)"
    dx = f"(cast(n as {d38}) * __sxx - __sx * __sx)"
    dy = f"(cast(n as {d38}) * __syy - __sy * __sy)"
    r2 = F.when(
        (F.expr(dx) > 0) & (F.expr(dy) > 0),
        F.expr(f"{num} * {num} * 1000000 DIV ({dx} * {dy})"))
    sign = F.when(F.expr(num) > 0, F.lit(1)) \
            .when(F.expr(num) < 0, F.lit(-1)).otherwise(F.lit(0))
    return agg.select("metric_a", "metric_b", "n",
                      r2.cast("long").alias("r2_micro"),
                      sign.cast("int").alias("sign"))
