"""Randomized cross-checks for the round-4 second-continuation
operators (seeded, deterministic):

- heavy_hitters vs the exact GROUP BY HAVING answer over random
  Zipf-ish streams at random k and partition counts (the two-phase
  Misra-Gries claim is EXACTNESS, so the property is equality, not
  mere containment);
- weighted_percentiles vs an independent pure-Python weighted
  quantile over random weights, plus the weights=1 degeneration to
  the classic lower quantile;
- flow_aggregate conservation: every input packet's count and bytes
  land in exactly one flow, and the two directions partition them;
- sequence_gaps audit identity on duplicate-free random keys.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from beats_analytics.events import (
    sequence_gaps, weighted_percentiles,
)
from beats_analytics.flows import flow_aggregate
from beats_analytics.sketch import heavy_hitters


def test_heavy_hitters_equals_exact_having_randomized(spark):
    rng = random.Random(0xBEA75)
    for trial in range(4):
        n = rng.randrange(300, 1200)
        # Zipf-ish: a few hot items over a heavy singleton tail
        items = []
        for i in range(n):
            r = rng.random()
            if r < 0.45:
                items.append(f"hot{rng.randrange(4)}")
            elif r < 0.65:
                items.append(f"warm{rng.randrange(20)}")
            else:
                items.append(f"cold{i}")
        k = rng.choice([5, 10, 16, 40])
        parts = rng.choice([1, 3, 8, 17])
        df = spark.createDataFrame([(x,) for x in items],
                                   "item string").repartition(parts)
        got = {(r["item"], r["n"]) for r in
               heavy_hitters(df, "item", k=k).collect()}
        counts = {}
        for x in items:
            counts[x] = counts.get(x, 0) + 1
        want = {(x, c) for x, c in counts.items() if c * k > n}
        assert got == want, (trial, k, parts, got ^ want)


def _py_weighted_quantile(pairs, q_micro):
    """Lower weighted quantile, ceil-rank rule, in plain Python."""
    pairs = sorted(pairs)
    W = sum(w for _, w in pairs)
    need = (q_micro * W + 999_999) // 1_000_000
    cum = 0
    for v, w in pairs:
        cum += w
        if cum >= need:
            return v
    return pairs[-1][0]


def test_weighted_percentiles_vs_python_randomized(spark):
    rng = random.Random(0x5EED4)
    rows = []
    keys = ["a", "b", "c"]
    for key in keys:
        for _ in range(rng.randrange(40, 120)):
            rows.append((key, rng.randrange(0, 500),
                         rng.randrange(1, 50)))
    df = spark.createDataFrame(rows, "k string, v long, w long")
    qs = (0.1, 0.5, 0.9, 0.99, 1.0)
    out = {(r["k"], r["q_micro"]): r["value"]
           for r in weighted_percentiles(df, "k", "v", "w",
                                         quantiles=qs).collect()}
    for key in keys:
        pairs = [(v, w) for kk, v, w in rows if kk == key]
        for q in qs:
            qm = int(round(q * 1_000_000))
            assert out[(key, qm)] == _py_weighted_quantile(pairs, qm), \
                (key, q)
    # weights=1 degenerates to the classic lower quantile
    uw = [(k, v, 1) for k, v, _ in rows]
    df1 = spark.createDataFrame(uw, "k string, v long, w long")
    out1 = {(r["k"], r["q_micro"]): r["value"]
            for r in weighted_percentiles(df1, "k", "v", "w",
                                          quantiles=(0.5,)).collect()}
    for key in keys:
        vals = sorted(v for kk, v, _ in rows if kk == key)
        need = (500_000 * len(vals) + 999_999) // 1_000_000
        assert out1[(key, 500_000)] == vals[need - 1], key


def test_flow_aggregate_conservation_randomized(spark):
    rng = random.Random(0xF10A)
    rows = []
    for i in range(600):
        a, b = rng.randrange(6), rng.randrange(6)
        rows.append((f"10.0.0.{a}", f"10.0.0.{b}",
                     rng.choice([1000, 2000]), rng.choice([80, 443]),
                     "tcp",
                     f"2024-01-01 00:{rng.randrange(60):02d}:"
                     f"{rng.randrange(60):02d}",
                     rng.randrange(40, 1500)))
    df = spark.createDataFrame(
        rows, "src_ip string, dst_ip string, src_port int, "
              "dst_port int, proto string, ts string, n_bytes long") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    flows = flow_aggregate(df, timeout_s=15).collect()
    # conservation: packets and bytes partition exactly across flows
    # and directions
    assert sum(r["packets_fwd"] + r["packets_rev"]
               for r in flows) == len(rows)
    assert sum(r["bytes_fwd"] + r["bytes_rev"]
               for r in flows) == sum(r[6] for r in rows)
    # canonical ordering holds on every flow record
    for r in flows:
        assert (r["a_ip"], r["a_port"]) <= (r["b_ip"], r["b_port"])
        assert r["duration_us"] >= 0


def test_sequence_gaps_identity_randomized(spark):
    rng = random.Random(0x9A95)
    rows = []
    expect = {}
    for key in ("k1", "k2", "k3"):
        lo = rng.randrange(1, 100)
        span = rng.randrange(5, 200)
        universe = list(range(lo, lo + span))
        keep = sorted(rng.sample(universe,
                                 rng.randrange(2, len(universe))))
        rows += [(key, s) for s in keep]
        expect[key] = (len(keep), keep[0], keep[-1])
    df = spark.createDataFrame(rows, "k string, rec long")
    out = {r["k"]: r for r in sequence_gaps(df, "k", "rec").collect()}
    for key, (n, first, last) in expect.items():
        r = out[key]
        assert (r["n"], r["first_seq"], r["last_seq"]) == \
            (n, first, last)
        assert r["n_dups"] == 0
        # the audit identity the operator exists to check
        assert r["n"] + r["n_missing"] == last - first + 1
