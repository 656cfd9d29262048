"""End-to-end training export (beats_analytics/export.py): partitioned
output, both near-dup policies, NON-vacuous leak-freedom, packing
integrity."""

import os

import pytest
from pyspark.sql import functions as F

from beats_analytics.export import export_training_set


def test_export_drop_mode(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "ts_drop")
    counts = export_training_set(docs, out, budget=256)

    df = spark.read.parquet(out)
    assert set(counts) <= {"train", "val", "test"}
    assert sum(counts.values()) == df.count() > 0
    assert counts["train"] > counts.get("val", 0)
    assert any(d.startswith("split=") for d in os.listdir(out))
    # bins respect the budget (per pack shard) except oversized docs
    per_bin = (df.groupBy("pack_shard", "bin")
               .agg(F.sum("n_tokens").alias("t"),
                    F.count(F.lit(1)).alias("k")).collect())
    for r in per_bin:
        assert r["t"] <= 256 or r["k"] == 1
    # drop-mode: survivors are deduplicated — no near-dup pair among
    # the exported docs (that IS the leakage control here)
    from beats_analytics.dedup import minhash_lsh_pairs
    assert minhash_lsh_pairs(df, id_col="doc_id", text_col="text",
                             threshold=0.12).count() == 0


def test_export_confine_mode_is_leak_free_with_real_clusters(
        spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "ts_confine")
    counts = export_training_set(docs, out, budget=256,
                                 near_dups="confine")
    df = spark.read.parquet(out)
    assert sum(counts.values()) == df.count() > 0
    # confine RETAINS near-dups: strictly more docs than drop mode
    out_d = str(tmp_path / "ts_drop_cmp")
    drop_counts = export_training_set(docs, out_d, budget=256)
    assert sum(counts.values()) > sum(drop_counts.values())

    # NON-vacuous: multi-document clusters must exist in the output...
    sizes = df.groupBy("__cluster").count()
    assert sizes.filter(F.col("count") > 1).count() > 0
    # ...and no cluster straddles two splits
    sides = (df.groupBy("__cluster")
             .agg(F.countDistinct("split").alias("s")).collect())
    assert all(r["s"] == 1 for r in sides)
    # equivalently: no near-dup PAIR crosses the boundary
    from beats_analytics.dedup import minhash_lsh_pairs
    pairs = minhash_lsh_pairs(df, id_col="doc_id", text_col="text",
                              threshold=0.12)
    a = df.select(F.col("doc_id").alias("id_a"),
                  F.col("split").alias("split_a"))
    b = df.select(F.col("doc_id").alias("id_b"),
                  F.col("split").alias("split_b"))
    crossing = (pairs.join(a, "id_a").join(b, "id_b")
                .filter(F.col("split_a") != F.col("split_b")).count())
    assert crossing == 0


def test_export_rejects_managed_kwargs(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with pytest.raises(ValueError, match="managed by export"):
        export_training_set(docs, str(tmp_path / "x"),
                            with_metrics=True)
    with pytest.raises(ValueError, match="'drop' or 'confine'"):
        export_training_set(docs, str(tmp_path / "y"),
                            near_dups="nope")
