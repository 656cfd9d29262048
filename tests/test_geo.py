"""Geohash encoding (beats_analytics/geo.py): public-spec known vectors,
NULL policy, clamping, oracle-emitter equivalence, and the staged
plan shape; plus the Fano burstiness exactness cases."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from beats_analytics.geo import (
    geohash_col, geohash_oracle_sql, geohash_rollup, with_geohash,
)


#: public-spec vectors (Niemeyer geohash, as on geohash.org)
KNOWN = [
    (57_649_110, 10_407_440, 11, "u4pruydqqvj"),
    (48_858_370, 2_294_481, 7, "u09tunq"),
    (-33_865_143, 151_209_900, 6, "r3gx2g"),     # Sydney
    (0, 0, 5, "s0000"),
]


def test_geohash_known_vectors(spark):
    for lat, lon, p, want in KNOWN:
        got = spark.range(1).select(
            geohash_col(F.lit(lat).cast("long"),
                        F.lit(lon).cast("long"), p).alias("g")
        ).collect()[0]["g"]
        assert got == want, (lat, lon, p, got, want)
        # the SQL emitter must produce the identical string
        osql = geohash_oracle_sql(str(lat), str(lon), p)
        assert duckdb.sql(f"SELECT {osql}").fetchone()[0] == want


def test_geohash_null_clamp_and_validation(spark):
    df = spark.createDataFrame(
        [(None, 0), (91_000_000, 181_000_000),
         (-91_000_000, -181_000_000)],
        "lat bigint, lon bigint")
    out = [r["g"] for r in df.select(
        geohash_col(F.col("lat"), F.col("lon"), 4).alias("g"))
        .collect()]
    assert out[0] is None              # NULL coordinate -> NULL cell
    # out-of-range clamps to the edge cells, deterministically
    assert out[1] == "zzzz" and out[2] == "0000"
    with pytest.raises(ValueError, match="precision"):
        geohash_col(F.col("lat"), F.col("lon"), 0)
    with pytest.raises(ValueError, match="precision"):
        with_geohash(df, "lat", "lon", 13)


def test_with_geohash_matches_expression_form(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        ((F.col("user_id") * 7919) % 180_000_001 - 90_000_000)
        .alias("lat"),
        ((F.col("event_id") * 104729) % 360_000_001 - 180_000_000)
        .alias("lon"))
    a = sorted(r["cell"] for r in with_geohash(
        ev, "lat", "lon", 5).select("cell").collect())
    b = sorted(r["g"] for r in ev.select(
        geohash_col(F.col("lat"), F.col("lon"), 5).alias("g"))
        .collect())
    assert a == b
    # staged form keeps its projections separate (codegen-size guard)
    plan = with_geohash(ev, "lat", "lon", 5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "janino" not in plan.lower()


def test_geohash_rollup_counts(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = ev.select(F.lit(57_649_110).alias("lat"),
                   F.lit(10_407_440).alias("lon"))
    out = geohash_rollup(df, "lat", "lon", 6).collect()
    assert len(out) == 1
    assert out[0]["cell"] == "u4pruy" and out[0]["n"] == ev.count()
