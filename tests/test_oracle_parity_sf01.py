"""sf0.1 oracle-parity smoke for the newest catalog families
(VERDICT r4 item 4): the driver's CORRECTNESS sample (50 of 250+,
name-ordered) historically contains none of the round-4 additions —
sketch, events/telemetry, governance, graph/layout — so this marker
runs the IDENTICAL DuckDB comparison for a curated slice of those
families at the bench scale factor (sf0.1), keeping both scale
factors covered for every family regardless of what the harness
samples. The full catalog runs at sf0.001 in test_oracle_parity.py.

Selection: one-to-three cheap representatives per post-r3 family,
plus this round's additions (kafka_events, community_id_md5,
cidr_enrich). Heavy iterative queries (trustrank, dedup_canonical)
are excluded on purpose — their parity is covered at sf0.001 and
their cost belongs in bench, not the unit suite.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from beats_analytics.queries import QUERIES, ORACLES

SF01 = os.environ.get("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# one green row per post-r3 family at the bench SF
SMOKE = [
    # sketch layer
    "heavy_hitters",
    # events / telemetry layer
    "counter_rates", "trend_slope", "apdex_score", "gapfill_series",
    "rolling_actives", "sequence_gaps", "weighted_percentiles",
    "seasonal_anomaly", "metric_correlation",
    # governance / eval layer
    "l_diversity", "annotator_kappa", "auc_eval", "calibration_ece",
    "ab_test",
    # graph / layout / geo layer
    "covisitation", "skyline_docs", "equidepth_hist", "geohash_cells",
    "zonemap_prune",
    # round-5 additions
    "kafka_events", "community_id_md5", "cidr_enrich",
    "vpcflow_parse", "winlog_export", "redis_slowlog",
    "es_bulk", "bmp_stats", "wav_stats", "lumberjack_frames",
    "surt_keys", "cdx_latest",
]


@pytest.fixture(scope="module")
def ddb01():
    if not os.path.isdir(SF01):
        pytest.skip(f"{SF01} not present")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF01}/{t}.parquet'")
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), ignore_index=True)


@pytest.mark.parametrize("name", SMOKE)
def test_sf01_parity(spark, ddb01, name):
    assert name in ORACLES, f"{name} lost its oracle"
    spark_pdf = QUERIES[name](spark, SF01).toPandas()
    oracle_pdf = ddb01.execute(ORACLES[name]).df()
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns)
    assert len(spark_pdf) == len(oracle_pdf), \
        f"{name}: rows {len(spark_pdf)} vs {len(oracle_pdf)}"
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av):
            ok = np.isclose(av.fillna(math.nan), bv.fillna(math.nan),
                            rtol=0, atol=0, equal_nan=True)
        else:
            ok = (av.astype(str) == bv.astype(str))
        assert ok.all(), (
            f"{name}.{c}: {int((~ok).sum())} mismatches, e.g. "
            f"{av[~ok].head(3).tolist()} vs {bv[~ok].head(3).tolist()}")
