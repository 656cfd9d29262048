"""Data layout for scan pruning: Z-order (Morton) clustering keys.

At 100 TB the cheapest query is the one that never reads the file:
parquet row-group and file skipping works off per-file min/max
statistics, which a single-column sort makes tight for ONE column
only. Interleaving the bits of two (or more) normalized columns into
a Morton key and range-clustering on it makes min/max ranges tight on
EVERY interleaved column at once — the standard Z-order layout
(Delta/Iceberg `OPTIMIZE ZORDER BY`), here as plain DataFrame
arithmetic usable over any parquet/Iceberg sink.

Everything is JVM bit arithmetic (``shiftleft``/``shiftright``/
bitwise and/or folded over the bit positions) — no UDF, no shuffle
for the key itself; ``cluster_by_zorder`` adds exactly one range
exchange + an in-partition sort, the same cost as any sorted write.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = ["byte_balanced_shards", "cluster_by_zorder", "equidepth_hist", "global_rank", "skyline_2d",
           "global_prefix_sum", "write_bucketed", "zonemap_stats",
           "zorder_key"]


def _normalize(col: Column, lo: Column, hi: Column,
               bits: int) -> Column:
    """Map ``col`` into ``[0, 2^bits)`` by linear position inside
    [lo, hi] (offset × range / span). The multiply and the floor
    division run in decimal(38,0): Spark's ``/`` on longs is DOUBLE
    division, which misrounds boundary buckets once the scaled offset
    passes 2^53 (and the long multiply would wrap past 2^63) — wide
    ranges like epoch-millis or snowflake ids hit both. Decimal keeps
    the quotient exact for any span < 10^19 (quotient scale 10^-19 ≪
    1/span), matching the oracle's integer ``//``."""
    # NO decimal-division trust: Spark rounds a decimal quotient
    # HALF_UP at whatever scale the type rules leave (measured: the
    # (20,0)-input quotient is decimal(38,12), so spans past ~2e12
    # still misround across a bucket edge BEFORE the floor). Instead:
    # take the approximate floor, then correct it with EXACT
    # decimal(38,0) multiply/compare — products stay exact, the
    # approximate quotient is off by at most 1 (its error ≪ 1), so a
    # one-step correction lands the true integer quotient for any
    # span the zorder_key guard admits.
    span_d = ((hi - lo) + F.lit(1)).cast("decimal(38,0)")
    pos_d = (col - lo).cast("decimal(38,0)") * F.lit((1 << bits))
    q0 = F.floor(pos_d / span_d).cast("decimal(38,0)")
    q1 = F.when(q0 * span_d > pos_d, q0 - 1).otherwise(q0)
    q = F.when((q1 + 1) * span_d <= pos_d, q1 + 1).otherwise(q1) \
         .cast("long")
    # clamp BOTH edges: a value below lo goes negative and its bit
    # pattern is sign-extension (engine-dependent shifts) — edge
    # buckets keep out-of-range rows orderable and portable
    return F.greatest(F.least(q, F.lit((1 << bits) - 1)),
                      F.lit(0).cast("long"))


def zorder_key(
    cols: Sequence[Column],
    los: Sequence[int],
    his: Sequence[int],
    bits: int = 16,
) -> Column:
    """Morton key of ``cols`` (integer-valued Columns): each column is
    normalized into ``[0, 2^bits)`` against its [lo, hi] value range,
    then the bits are interleaved round-robin (column 0 owns bit
    positions 0, k, 2k, …). Pure closed-form bit arithmetic, exactly
    reproducible in any SQL engine (the oracle unrolls the same fold).

    ``bits × len(cols)`` must fit a signed long (≤ 62). Ranges are
    caller-supplied constants: at scale they come from table stats or
    domain knowledge (a scan to compute them would defeat the
    write-path purpose); values outside [lo, hi] clamp to the edge
    buckets (both sides — see ``_normalize``).
    """
    k = len(cols)
    if k < 2:
        raise ValueError("zorder_key: need at least 2 columns")
    if not (len(los) == len(his) == k):
        raise ValueError("zorder_key: los/his must match cols")
    if bits * k > 62:
        raise ValueError(f"zorder_key: {bits} bits x {k} cols "
                         "overflows a long")
    key = F.lit(0).cast("long")
    for ci, (c, lo, hi) in enumerate(zip(cols, los, his)):
        if hi < lo:
            raise ValueError(f"zorder_key: hi < lo for column {ci}")
        if hi - lo + 1 > 10 ** 17:
            # keeps span * 2^bits inside decimal(38,0)'s exact range
            # (and the correction products with it); epoch micros
            # over a century is ~3e15 — pre-scale coarser units if
            # genuinely wider
            raise ValueError(
                f"zorder_key: span {hi - lo + 1} for column {ci} "
                "exceeds 10^17 — pre-scale to coarser units")
        n = _normalize(c, F.lit(int(lo)).cast("long"),
                       F.lit(int(hi)).cast("long"), bits)
        for b in range(bits):
            bit = F.shiftright(n, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(
                F.shiftleft(bit, b * k + ci).cast("long"))
    return key


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 64,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a BUCKETED table on ``key``: rows are
    hash-distributed into ``n_buckets`` files per write-partition and
    (by default) sorted within each bucket. A join or aggregation on
    ``key`` between two tables bucketed the same way runs with ZERO
    shuffle of either side — Catalyst reads the bucket spec from the
    catalog and plans SortMergeJoin straight over co-located buckets
    (asserted in the tests: no Exchange under the join).

    This is the write-once/join-many layout for the big fact-fact
    joins a 100 TB pipeline cannot afford to shuffle per query (the
    dedup-pairs ⋈ labels and events ⋈ sessions shapes): pay one
    distribution at ingest, reuse it for every downstream join.
    Bucketed output requires the table catalog (``saveAsTable``) —
    plain ``.parquet(path)`` writes lose the bucket spec; pick
    ``n_buckets`` ≈ target parallelism at the QUERY side.
    """
    if n_buckets < 1:
        raise ValueError(f"write_bucketed: n_buckets must be >= 1, "
                         f"got {n_buckets}")
    w = df.write.mode(mode).bucketBy(n_buckets, key)
    if sort:
        w = w.sortBy(key)
    w.format("parquet").saveAsTable(table)


def cluster_by_zorder(
    df: DataFrame,
    cols: Sequence[str],
    los: Sequence[int],
    his: Sequence[int],
    bits: int = 16,
    n_files: int = 0,
    key_col: str = "zorder_key",
    keep_key: bool = False,
) -> DataFrame:
    """Physically cluster ``df`` for multi-column min/max pruning:
    compute the Morton key, ``repartitionByRange`` on it (one range
    exchange; ``n_files`` partitions, default session parallelism)
    and sort within partitions — write the result and every output
    file covers a compact hyper-rectangle of ALL interleaved columns,
    so a filter on ANY of them skips most files (single-column sort
    gives this for one column only; asserted on parquet footer
    min/max in the tests)."""
    key = zorder_key([F.col(c) for c in cols], los, his, bits)
    out = df.withColumn(key_col, key)
    parts = [key_col]
    out = (out.repartitionByRange(n_files, *parts) if n_files
           else out.repartitionByRange(*parts))
    out = out.sortWithinPartitions(key_col)
    return out if keep_key else out.drop(key_col)


def global_rank(
    df: DataFrame,
    order_by: Sequence[str],
    out_col: str = "rnk",
    partitions: int = 0,
) -> DataFrame:
    """Exact global ``row_number`` over a total order — WITHOUT the
    single-task sort that ``Window.orderBy`` (no partition) costs.
    The at-scale spelling of "rank every document in the corpus":

    1. one RANGE exchange on ``order_by`` (sampled boundaries — the
       same machinery as any sorted write) + in-partition sort, then
       ``localCheckpoint`` so the sampled boundaries are pinned for
       both consumers below;
    2. an Arrow pass numbers rows *within* each partition in arrival
       (= sorted) order — zero further shuffle on the big side;
    3. a per-partition row-count aggregate (``k`` rows, k =
       partitions) turned into exclusive prefix offsets by a k-row
       window and broadcast back: ``rank = offset + local index + 1``.

    The driver never sees data (the offsets live in a broadcast k-row
    frame); the big side moves through exactly ONE exchange. The last
    ``order_by`` column must make the order total (a unique
    tiebreaker id) or ranks within a tie are partition-arrival
    dependent; columns are ascending, NULLS FIRST (Spark's range-
    partition default — spell the oracle's ORDER BY the same way).

    Reference anchor: no beats analogue (rank is an analytics-side
    op); this is the rank-shaped sibling of
    :func:`beats_analytics.sample.token_budget_sample`'s
    bucketed global prefix.
    """
    from typing import Iterator
    import pandas as pd

    if not order_by:
        raise ValueError("global_rank: order_by must be non-empty")
    cols = [F.col(c).asc_nulls_first() for c in order_by]
    base = (df.repartitionByRange(partitions, *cols) if partitions
            else df.repartitionByRange(*cols))
    base = base.sortWithinPartitions(*cols)
    base = base.withColumn("__gr_pid", F.spark_partition_id())
    # pin the sampled range boundaries: counts and output must see
    # the SAME partitioning or offsets drift
    base = base.localCheckpoint(eager=False)

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in base.schema.fields)
    out_schema = f"{fields}, __gr_local bigint"

    def number(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i = 0
        for pdf in batches:
            out = pdf.copy()
            out["__gr_local"] = pd.RangeIndex(i, i + len(pdf)).astype("int64")
            i += len(pdf)
            yield out

    numbered = base.mapInPandas(number, schema=out_schema)
    counts = base.groupBy("__gr_pid").agg(F.count(F.lit(1)).alias("__n"))
    from pyspark.sql import Window
    w = (Window.orderBy("__gr_pid")
         .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "__gr_pid",
        F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__off"))
    return (numbered.join(F.broadcast(offsets), "__gr_pid")
            .withColumn(out_col, (F.col("__off") + F.col("__gr_local")
                                  + F.lit(1)).cast("long"))
            .drop("__gr_pid", "__gr_local", "__off"))


def zonemap_stats(
    df: DataFrame,
    sort_col: str,
    id_col: str,
    lo,
    hi,
    n_buckets: int = 32,
) -> DataFrame:
    """Zone-map (min/max-per-file) pruning audit: lay the SAME rows
    out two ways — range-clustered on ``sort_col`` vs hash-scattered
    on ``id_col`` — build each layout's per-bucket zone map, and
    report what a ``sort_col BETWEEN lo AND hi`` scan would touch:
    ``(layout, n_buckets, buckets_scanned, rows_scanned,
    rows_matching)``.

    This is THE quantified argument for sorted/Z-ordered layout at
    100 TB (the decision :func:`cluster_by_zorder` implements, and
    what Iceberg/Delta file stats do at plan time): a zone map can
    only skip a file whose [min, max] misses the predicate, so on a
    hash layout every bucket spans the whole domain and NOTHING
    skips — same data, same query, ~n_buckets× the IO. The audit
    makes that delta a measured number instead of folklore.

    Shape: the range layout's bucket ids come from
    :func:`global_rank` (single range exchange, no one-task sort) ×
    ``(rank-1)·n_buckets div n_rows``; the hash layout's from the
    portable md5 bucket. Each zone map is one partial-combining
    aggregation over (bucket); the audit joins the two tiny zone
    tables to a broadcast scalar. Everything downstream of the rank
    touches only (bucket, min, max, count) rows.
    """
    if n_buckets < 1:
        raise ValueError(f"zonemap_stats: n_buckets must be >= 1, "
                         f"got {n_buckets}")
    base = df.select(F.col(id_col).alias("id"),
                     F.col(sort_col).alias("v"))
    ranked = global_rank(base, ["v", "id"], out_col="__r")
    nn = ranked.agg(F.count(F.lit(1)).alias("__n"))
    srt = (ranked.join(F.broadcast(nn))
           .select("v", F.expr(f"(__r - 1) * {int(n_buckets)} "
                               "DIV __n").alias("b")))
    hsh = base.select(
        "v",
        (F.conv(F.substring(F.md5(F.concat(
            F.col("id").cast("string"), F.lit("#z"))), 1, 15),
            16, 10).cast("long") % n_buckets).alias("b"))

    def audit(frame: DataFrame, layout: str) -> DataFrame:
        zm = (frame.groupBy("b")
              .agg(F.min("v").alias("mn"), F.max("v").alias("mx"),
                   F.count(F.lit(1)).alias("cnt")))
        hit = (F.col("mx") >= F.lit(lo)) & (F.col("mn") <= F.lit(hi))
        return zm.agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(hit.cast("long")).alias("buckets_scanned"),
            F.sum(F.when(hit, F.col("cnt")).otherwise(0))
             .alias("rows_scanned"))

    matching = base.agg(
        F.sum(((F.col("v") >= F.lit(lo)) & (F.col("v") <= F.lit(hi)))
              .cast("long")).alias("rows_matching"))
    return (audit(srt, "range").unionAll(audit(hsh, "hash"))
            .join(F.broadcast(matching)))


def global_prefix_sum(
    df: DataFrame,
    order_by: Sequence[str],
    value_col: str,
    out_col: str = "prefix",
    partitions: int = 0,
) -> DataFrame:
    """Exact EXCLUSIVE global prefix sum of ``value_col`` over a total
    order — the running-total sibling of :func:`global_rank`, without
    the single-task sort a partitionless window costs. Same machinery:

    1. one RANGE exchange on ``order_by`` + in-partition sort,
       ``localCheckpoint`` to pin the sampled boundaries;
    2. an Arrow pass computes the exclusive running sum WITHIN each
       partition (arrival = sorted order) — zero further shuffle;
    3. per-partition value totals become exclusive offsets via a
       k-row window, broadcast back and added.

    The result is independent of the sampled boundary placement (a
    prefix sum over a total order is partitioning-invariant), so it
    is oracle-exact. ``value_col`` must be non-negative bigint-like
    and non-null; the last ``order_by`` column must be a unique
    tiebreaker. Ascending NULLS FIRST like :func:`global_rank`.
    """
    from typing import Iterator
    import pandas as pd

    if not order_by:
        raise ValueError("global_prefix_sum: order_by must be non-empty")
    cols = [F.col(c).asc_nulls_first() for c in order_by]
    base = (df.repartitionByRange(partitions, *cols) if partitions
            else df.repartitionByRange(*cols))
    base = base.sortWithinPartitions(*cols)
    base = base.withColumn("__ps_pid", F.spark_partition_id())
    base = base.localCheckpoint(eager=False)

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in base.schema.fields)
    out_schema = f"{fields}, __ps_local bigint"

    def running(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = 0
        for pdf in batches:
            out = pdf.copy()
            v = pdf[value_col].to_numpy("int64")
            c = v.cumsum()
            out["__ps_local"] = c - v + acc   # exclusive
            acc += int(c[-1]) if len(c) else 0
            yield out

    summed = base.mapInPandas(running, schema=out_schema)
    totals = base.groupBy("__ps_pid").agg(
        F.sum(value_col).cast("bigint").alias("__n"))
    from pyspark.sql import Window
    w = (Window.orderBy("__ps_pid")
         .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        "__ps_pid",
        F.coalesce(F.sum("__n").over(w), F.lit(0)).alias("__off"))
    return (summed.join(F.broadcast(offsets), "__ps_pid")
            .withColumn(out_col, (F.col("__off") + F.col("__ps_local"))
                        .cast("long"))
            .drop("__ps_pid", "__ps_local", "__off"))


def byte_balanced_shards(
    df: DataFrame,
    order_by: Sequence[str],
    bytes_col: str,
    target_bytes: int,
    out_col: str = "shard",
) -> DataFrame:
    """Assign rows to byte-balanced output shards: shard =
    ``exclusive_prefix_bytes // target_bytes`` over the given total
    order — the deterministic fix for the small-files/giant-files
    problem a naive ``repartition(n)`` leaves at 100 TB (hash
    placement balances ROW counts; documents vary 100× in size, so
    file BYTES don't balance and downstream scans skew). Guarantee:
    NO shard exceeds ``target_bytes + max_row_bytes`` (a shard's rows
    all START inside one target-width prefix window; the last row may
    overhang by at most one row), so giant output files cannot occur;
    a row larger than ``target_bytes`` still lands in exactly one
    shard and the following shard id may be skipped or start small —
    rare, and harmless next to the skew it removes. Order
    preservation keeps range-cluster locality (shards stay
    zone-map-prunable on the order key). Cost: the ONE range exchange
    of :func:`global_prefix_sum`; the write itself then partitions by
    ``out_col``.
    """
    if target_bytes <= 0:
        raise ValueError("byte_balanced_shards: target_bytes must be > 0")
    pre = global_prefix_sum(df, order_by, bytes_col, out_col="__pre")
    return (pre.withColumn(out_col,
                           F.floor(F.col("__pre") / F.lit(target_bytes))
                            .cast("int"))
            .drop("__pre"))


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str = "doc_id",
    partitions: int = 0,
) -> DataFrame:
    """2-D skyline / Pareto front (Börzsönyi et al., ICDE 2001),
    maximizing both dimensions — "the documents no other document
    beats on BOTH quality and length", the multi-objective selection
    a curation pipeline runs when two scores cannot be collapsed into
    one.

    Semantics: over DISTINCT (x, y) points (min id as
    representative), keep exactly the points no other point
    dominates (≥ in both dims, > in at least one).

    Scale spelling — the 2-D skyline IS a prefix-max scan, so it
    reuses the :func:`global_prefix_sum` machinery instead of the
    O(n²) NOT-EXISTS join or a single-task global window:

    1. one RANGE exchange on (x desc, y desc) + in-partition sort
       (localCheckpoint pins the sampled boundaries);
    2. an Arrow pass computes each row's EXCLUSIVE running max of y
       within its partition;
    3. per-partition y-maxima become exclusive cross-partition
       maxima via a k-row window, broadcast back;
    4. a point survives iff y > max(everything sorted before it) —
       sorted-before means x greater, or x equal with y greater, so
       the exclusive max is exactly the best dominating candidate.

    ``y_col`` must be bigint-like with |y| < 2^53 (the running max
    transits float64 in the Arrow pass). Output:
    ``(x_col, y_col, id_col)``."""
    from typing import Iterator
    import numpy as np
    import pandas as pd

    pts = df.groupBy(x_col, y_col).agg(F.min(id_col).alias(id_col))
    cols = [F.col(x_col).desc(), F.col(y_col).desc()]
    base = (pts.repartitionByRange(partitions, *cols) if partitions
            else pts.repartitionByRange(*cols))
    base = base.sortWithinPartitions(*cols)
    base = base.withColumn("__sk_pid", F.spark_partition_id())
    base = base.localCheckpoint(eager=False)
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in base.schema.fields)
    out_schema = f"{fields}, __sk_prev bigint"

    def running(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in batches:
            out = pdf.copy()
            y = pdf[y_col].to_numpy("int64")
            n = len(y)
            ex = np.full(n, np.nan)
            if n:
                r = np.maximum.accumulate(y.astype("float64"))
                ex[1:] = r[:-1]
                if acc is not None:
                    ex[0] = acc
                    ex = np.fmax(ex, float(acc))
                acc = float(r[-1]) if acc is None \
                    else max(acc, float(r[-1]))
            out["__sk_prev"] = pd.Series(ex).astype("Int64").values
            yield out

    scanned = base.mapInPandas(running, schema=out_schema)
    totals = base.groupBy("__sk_pid").agg(
        F.max(y_col).cast("long").alias("__m"))
    w = (Window.orderBy("__sk_pid")
         .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select("__sk_pid",
                            F.max("__m").over(w).alias("__off"))
    joined = scanned.join(F.broadcast(offsets), "__sk_pid")
    m = F.greatest(F.col("__sk_prev"), F.col("__off"))
    return (joined.filter(m.isNull() | (F.col(y_col) > m))
            .select(x_col, y_col, id_col))


def equidepth_hist(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_buckets: int = 16,
) -> DataFrame:
    """Exact equi-depth histogram — the table-statistics primitive a
    cost-based optimizer (and a zone-map / range-partition designer)
    wants: ``n_buckets`` buckets of (near-)equal row count with their
    value bounds. Output: ``(bucket, n_rows, lo, hi)``; bucket sizes
    differ by at most one row.

    Assignment is rank-based — ``bucket = (rank−1)·B div n + 1`` over
    the exact global row_number by ``(value, id)`` — so the answer is
    deterministic and engine-portable; rows tied on value are
    interchangeable for the outputs (per-bucket count/min/max), so
    the tiebreaker id only pins the rank, never the result. Needs
    ``n_buckets · n < 2^63`` (documented bound; 10^12 rows × 10^5
    buckets fits).

    Plan: :func:`global_rank`'s range exchange + Arrow numbering
    (never a single-task window), a broadcast one-row total, and ONE
    ≤ B-group aggregate. The classic ``ntile()`` spelling this
    replaces would funnel the corpus through one task.
    """
    if n_buckets < 1:
        raise ValueError(f"equidepth_hist: n_buckets must be >= 1, "
                         f"got {n_buckets}")
    ranked = global_rank(df.select(value_col, id_col),
                         [value_col, id_col], out_col="__rk")
    tot = ranked.agg(F.count(F.lit(1)).alias("__n"))
    b = int(n_buckets)
    return (ranked.join(F.broadcast(tot))
            .select(F.expr(f"(__rk - 1) * {b} DIV __n + 1")
                    .cast("int").alias("bucket"),
                    F.col(value_col))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min(value_col).alias("lo"),
                 F.max(value_col).alias("hi")))
