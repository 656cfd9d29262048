"""Deterministic hash splits (beats_analytics/splits.py): stability,
fraction boundaries, cluster-level leakage control."""

import pytest
from pyspark.sql import functions as F

from beats_analytics.splits import hash_split, split_fractions


def test_split_deterministic_under_partitioning(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    f = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"]
         for r in hash_split(df, "doc_id", f).collect()}
    b = {r["doc_id"]: r["split"]
         for r in hash_split(df.repartition(7), "doc_id", f).collect()}
    assert a == b
    # realized fractions near nominal
    from collections import Counter
    c = Counter(a.values())
    assert 0.75 < c["train"] / 2000 < 0.85
    assert c["train"] + c["val"] + c["test"] == 2000


def test_split_stable_under_growth(spark):
    # adding rows never reassigns existing ones (pure key function)
    f = {"train": 0.9, "test": 0.1}
    small = {r["doc_id"]: r["split"] for r in hash_split(
        spark.range(500).withColumnRenamed("id", "doc_id"),
        "doc_id", f).collect()}
    big = {r["doc_id"]: r["split"] for r in hash_split(
        spark.range(5000).withColumnRenamed("id", "doc_id"),
        "doc_id", f).collect()}
    assert all(big[k] == v for k, v in small.items())


def test_split_on_cluster_key_prevents_leakage(spark):
    # splitting on the dedup-cluster id puts whole clusters on one
    # side — no near-dup straddles the train/test boundary
    rows = [(i, i // 5) for i in range(300)]  # 60 clusters of 5 docs
    df = spark.createDataFrame(rows, "doc_id long, component long")
    out = hash_split(df, "component", {"train": 0.7, "test": 0.3})
    sides = (out.groupBy("component")
             .agg(F.countDistinct("split").alias("k")).collect())
    assert all(r["k"] == 1 for r in sides)


def test_fractions_must_sum_to_one(spark):
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        hash_split(df, "doc_id", {"train": 0.5, "test": 0.4})


def test_split_fractions_counts(spark):
    df = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "de")], "doc_id long, lang string")
    out = hash_split(df, "doc_id", {"a": 1.0})
    got = {(r["split"], r["lang"]): r["n"]
           for r in split_fractions(out, strata=["lang"]).collect()}
    assert got == {("a", "en"): 2, ("a", "de"): 1}


def test_null_keys_raise_by_default_or_route(spark):
    df = spark.createDataFrame([(1,), (None,)], "doc_id long")
    f = {"train": 0.9, "test": 0.1}
    with pytest.raises(Exception):
        hash_split(df, "doc_id", f).collect()
    out = {r["doc_id"]: r["split"]
           for r in hash_split(df, "doc_id", f, on_null="test").collect()}
    assert out[None] == "test" and out[1] in ("train", "test")
    with pytest.raises(ValueError):
        hash_split(df, "doc_id", f, on_null="nope")
