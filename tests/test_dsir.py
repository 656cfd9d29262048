"""DSIR importance resampling: model shape, frozen-model scoring of
new batches, determinism, and the broadcast/top-k plan contract."""

import pytest
from pyspark.sql import functions as F

from beats_analytics import (
    dsir_model, dsir_resample, dsir_score, hashed_ngram_buckets,
)


@pytest.fixture(scope="module")
def corpora(spark):
    raw = spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "der hund lief im park herum"),
         (3, "the dog ran in the park"),
         (4, "xqz zzq qzx glorp"),
         (5, ""),
         (6, "the the the the the")],
        "doc_id bigint, text string")
    target = spark.createDataFrame(
        [(100, "the cat and the dog sat in the park"),
         (101, "the mat on the floor")],
        "doc_id bigint, text string")
    return raw, target


def test_feature_buckets_bounded(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    arr = df.select(hashed_ngram_buckets(F.col("text"), 16)
                    .alias("b")).head()["b"]
    assert len(arr) == 4 + 3            # unigrams + bigrams
    assert all(0 <= b < 16 for b in arr)
    one = df.select(hashed_ngram_buckets(F.lit("x"), 16)
                    .alias("b")).head()["b"]
    assert len(one) == 1                # no bigrams for 1 token


def test_model_covers_union_and_is_small(spark, corpora):
    raw, target = corpora
    ratios, default = dsir_model(raw, target, buckets=64)
    n = ratios.count()
    assert 0 < n <= 64
    assert ratios.filter(F.col("lr_micro").isNull()).count() == 0
    d = default.head()
    assert d["lr0_micro"] is not None


def test_scores_favor_target_like_docs(spark, corpora):
    raw, target = corpora
    sc = {r["doc_id"]: r for r in
          dsir_score(raw, dsir_model(raw, target)).collect()}
    assert set(sc) == {1, 2, 3, 4, 5, 6}
    # English target-ish docs above the German and gibberish ones
    assert sc[1]["lr_micro"] > sc[2]["lr_micro"]
    assert sc[3]["lr_micro"] > sc[4]["lr_micro"]
    # empty doc: no evidence
    assert (sc[5]["n_feats"], sc[5]["lr_micro"]) == (0, 0)


def test_frozen_model_scores_unseen_ngrams(spark, corpora):
    raw, target = corpora
    model = dsir_model(raw, target)
    new = spark.createDataFrame(
        [(7, "completely unseen words everywhere today")],
        "doc_id bigint, text string")
    row = dsir_score(new, model).head()
    assert row["n_feats"] == 5 + 4
    assert row["lr_micro"] is not None  # default ratio filled in


def test_resample_deterministic_and_repartition_stable(spark, corpora):
    raw, target = corpora
    a = dsir_resample(raw, target=target, k=3).collect()
    b = dsir_resample(raw.repartition(7), target=target, k=3).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert len(a) == 3
    # seed changes the Gumbel draw, not the weights
    c = dsir_resample(raw, target=target, k=3, seed="s2").collect()
    wa = {r["doc_id"]: r["lr_micro"] for r in a}
    wc = {r["doc_id"]: r["lr_micro"] for r in c}
    for k_ in set(wa) & set(wc):
        assert wa[k_] == wc[k_]


def test_resample_validates_args(spark, corpora):
    raw, target = corpora
    with pytest.raises(ValueError):
        dsir_resample(raw)
    with pytest.raises(ValueError):
        dsir_resample(raw, target=target,
                      model=dsir_model(raw, target))


def test_plan_broadcast_and_topk(spark, corpora):
    """The scale contract: top-k is TakeOrderedAndProject (k rows to
    the driver, not a global sort), nothing joins at all (the ratio
    table rides inside the fused Arrow kernel as a bounded dict), no
    doc ever explodes into per-feature rows, and the corpus side never
    shuffles."""
    raw, target = corpora
    sel = dsir_resample(raw, target=target, k=2)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "Join" not in plan            # no join of any kind
    assert "Generate" not in plan        # docs never explode
    # exactly one fused Python stage: featurize+fold in one pass
    assert plan.count("ArrowEvalPython") == 1

    # scoring a new batch with a FROZEN model (the train-once/score-
    # many path) is pure map-side: no explode, no hash shuffle at all
    ratios, default = dsir_model(raw, target)
    frozen = (ratios.localCheckpoint(), default.localCheckpoint())
    splan = (dsir_score(raw, frozen)._jdf.queryExecution()
             .executedPlan().toString())
    assert "Generate explode" not in splan
    assert "Exchange hashpartitioning" not in splan
    assert "SortMergeJoin" not in splan
    assert splan.count("ArrowEvalPython") == 1


def test_streaming_scoring_matches_batch(spark, corpora, tmp_path):
    """A frozen model scores a STREAMING frame identically to batch —
    the scoring path is stateless map-side, so it drops into a
    crawl-time pipeline unchanged."""
    raw, target = corpora
    model = dsir_model(raw, target)
    frozen = (model[0].localCheckpoint(), model[1].localCheckpoint())
    src = str(tmp_path / "docs")
    raw.write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .parquet(src))
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (dsir_score(stream, frozen, spread=False)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["doc_id"]: (r["n_feats"], r["lr_micro"])
           for r in spark.read.parquet(out_dir).collect()}
    want = {r["doc_id"]: (r["n_feats"], r["lr_micro"])
            for r in dsir_score(raw, frozen).collect()}
    assert got == want


def test_dsir_oracle_parity_null_text_empty_target(spark, tmp_path):
    """Oracle parity on shapes absent from the shipped testdata: NULL
    text (must score 0 over 0 features, not NULL), empty text, and a
    shard with ZERO target-language docs (the smoothing-only model —
    both engines must produce finite ratios, not NULL-poison)."""
    import os
    import duckdb
    from beats_analytics.queries import QUERIES, ORACLES

    for tag, rows in {
        "nulls": [(1, "aa bb cc", "en", "s", 8),
                  (2, None, "en", "s", 0),
                  (3, "", "de", "s", 0),
                  (4, "x y z x y", None, "s", 6)],
        "notarget": [(1, "aa bb cc", "de", "s", 8),
                     (2, "dd ee", "fr", "s", 5),
                     (3, None, None, "s", 0)],
    }.items():
        sf = str(tmp_path / tag)
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, "
                  "source string, n_chars long") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(sf, "documents.parquet"))
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet/*.parquet')")
        for name in ("dsir_weights", "dsir_select"):
            df = QUERIES[name](spark, sf)
            cols = df.columns
            got = df.toPandas().sort_values(cols).reset_index(drop=True)
            ora = (con.sql("SELECT * FROM (" + ORACLES[name] + ")")
                   .df()[cols].sort_values(cols).reset_index(drop=True))
            assert len(got) == len(ora), (tag, name)
            assert not got.isna().any().any(), (tag, name, got)
            assert got.equals(ora.astype(got.dtypes.to_dict())), \
                f"{tag}/{name}\n{got}\n{ora}"
        con.close()
