"""Bidirectional flow aggregation (beats_analytics/flows.py): direction
canonicalization, idle-timeout flow splitting, per-direction
counters, and the single-exchange plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_analytics.flows import flow_aggregate


def _pk(spark, rows):
    return spark.createDataFrame(
        rows, "src_ip string, dst_ip string, src_port int, "
              "dst_port int, proto string, ts string, n_bytes long") \
        .withColumn("ts", F.col("ts").cast("timestamp"))


def test_flow_directions_merge_and_counters(spark):
    rows = [
        # client -> server, then server -> client: ONE flow
        ("10.0.0.1", "10.1.1.1", 5000, 443, "tcp",
         "2024-01-01 00:00:00", 100),
        ("10.1.1.1", "10.0.0.1", 443, 5000, "tcp",
         "2024-01-01 00:00:01", 900),
        ("10.0.0.1", "10.1.1.1", 5000, 443, "tcp",
         "2024-01-01 00:00:02", 50),
    ]
    out = flow_aggregate(_pk(spark, rows), timeout_s=30).collect()
    assert len(out) == 1
    r = out[0]
    # canonical a = lexicographically smaller (ip, port)
    assert (r["a_ip"], r["a_port"]) == ("10.0.0.1", 5000)
    assert (r["b_ip"], r["b_port"]) == ("10.1.1.1", 443)
    # forward = packets sent from a
    assert (r["packets_fwd"], r["packets_rev"]) == (2, 1)
    assert (r["bytes_fwd"], r["bytes_rev"]) == (150, 900)
    assert r["duration_us"] == 2_000_000


def test_flow_idle_timeout_splits(spark):
    rows = [
        ("h1", "h2", 1, 2, "udp", "2024-01-01 00:00:00", 10),
        ("h1", "h2", 1, 2, "udp", "2024-01-01 00:00:20", 10),
        # 40 s gap > 30 s timeout: new flow record
        ("h1", "h2", 1, 2, "udp", "2024-01-01 00:01:00", 10),
    ]
    out = sorted(flow_aggregate(_pk(spark, rows), timeout_s=30)
                 .collect(), key=lambda r: r["flow_start_us"])
    assert len(out) == 2
    assert out[0]["packets_fwd"] == 2 and out[1]["packets_fwd"] == 1
    with pytest.raises(ValueError, match="timeout_s"):
        flow_aggregate(_pk(spark, rows), timeout_s=0)


def test_flow_same_ip_port_tiebreak(spark):
    # same IP both sides: port decides the canonical order
    rows = [("h", "h", 9000, 80, "tcp", "2024-01-01 00:00:00", 5)]
    r = flow_aggregate(_pk(spark, rows)).collect()[0]
    assert (r["a_port"], r["b_port"]) == (80, 9000)
    # the packet went from port 9000 (= b) so it counts as reverse
    assert (r["packets_fwd"], r["packets_rev"]) == (0, 1)
