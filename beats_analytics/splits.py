"""Deterministic dataset splitting for training pipelines.

`randomSplit` is NOT reproducible across runs/partitionings (it
samples per partition with a seed tied to partition ids), and a random
split leaks near-duplicates across train/test. The operators here are
pure functions of the ROW KEY:

- :func:`hash_split` — bucket by md5(key) % granularity, assign
  buckets to named splits by cumulative fraction. Stable under
  repartitioning, retries, and engine changes (md5 reproduces in any
  SQL engine — the same portability trick as the dedup hashing), and
  adding rows later never reassigns existing ones.
- leakage control: split on the DEDUP CLUSTER key (e.g. the
  ``component`` from
  :func:`beats_analytics.components.connected_components`, or a
  registered domain) instead of the doc id, and whole clusters land on
  one side of the boundary.
- :func:`split_fractions` — the realized per-split (and optionally
  per-stratum) counts for skew inspection, one aggregation.

Scale: assignment is a map-side expression (md5 + modulo + when
chain over len(fractions) branches) — zero shuffle, pushdown-safe.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["hash_split", "split_fractions"]


def split_bucket(key: Column, granularity: int = 10_000) -> Column:
    """md5-derived bucket in [0, granularity): the first 15 hex chars
    as a bigint (the engine-portable 60-bit trick) mod granularity."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10)
    return (h.cast("long") % granularity).cast("int")


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: Mapping[str, float],
    split_col: str = "split",
    granularity: int = 10_000,
    on_null: Optional[str] = None,
) -> DataFrame:
    """Assign each row a split name by hashed key bucket.

    ``fractions`` maps split name → fraction; they must sum to 1 (±1e-9).
    Bucket boundaries are cumulative in the mapping's order, so
    ``{"train": .9, "val": .05, "test": .05}`` puts buckets
    [0, 9000) → train, [9000, 9500) → val, [9500, 10000) → test.
    Every row with the same key (and every member of a cluster if the
    key is a cluster id) gets the same split.

    Null keys would otherwise hash to null and ALL fall through to
    the last split, silently skewing it; by default they fail the job
    at scan time (``assert_true``), or name a split via ``on_null``
    to route them explicitly."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    if on_null is not None and on_null not in fractions:
        raise ValueError(f"on_null {on_null!r} is not a split name")
    bucket = split_bucket(F.col(key_col), granularity)
    if on_null is None:
        guard = F.assert_true(
            F.col(key_col).isNotNull(),
            F.lit(f"hash_split: null {key_col} (set on_null to route "
                  "null keys to a named split)"))
        bucket = F.when(guard.isNull(), bucket)
    cum = 0.0
    expr = None
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        bound = int(round(cum * granularity))
        piece = F.when(bucket < bound, F.lit(name))
        expr = piece if expr is None else expr.when(bucket < bound,
                                                   F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    if on_null is not None:
        expr = F.when(F.col(key_col).isNull(), F.lit(on_null)) \
                .otherwise(expr)
    return df.withColumn(split_col, expr)


def split_fractions(
    df: DataFrame,
    split_col: str = "split",
    strata: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Realized counts per split (and per stratum): one map-side
    partial aggregation."""
    keys = [split_col] + list(strata or [])
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
