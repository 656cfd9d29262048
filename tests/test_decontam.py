"""Benchmark decontamination (beats_analytics/decontam.py): n-gram overlap
flagging, min_matches threshold, filtering form, broadcast-only plan."""

import pytest
from pyspark.sql import functions as F

from beats_analytics.decontam import (contamination_flags,
                                          decontaminate)


@pytest.fixture
def corpus(spark):
    train = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "completely unrelated text about spark plans and shuffles"),
        (3, "they saw the quick brown fox near the barn yesterday"),
        (4, "short doc"),                      # < n tokens: never flagged
        (5, "over the lazy dog went the story they kept telling"),
    ], "doc_id long, text string")
    ev = spark.createDataFrame([
        (100, "what jumps over the lazy dog it was the quick brown fox"),
    ], "doc_id long, text string")
    return train, ev


def test_flags_overlapping_docs(spark, corpus):
    train, ev = corpus
    out = contamination_flags(train, ev, n=4)
    got = {r["doc_id"]: r["contaminated"] for r in out.collect()}
    # 1 shares three 4-grams ("the quick brown fox", "jumps over the
    # lazy", "over the lazy dog"); 3 and 5 share exactly one each;
    # 2 and 4 are clean
    assert got == {1: True, 2: False, 3: True, 4: False, 5: True}


def test_min_matches_threshold(spark, corpus):
    train, ev = corpus
    out = contamination_flags(train, ev, n=4, min_matches=3)
    got = {r["doc_id"]: r["contaminated"] for r in out.collect()}
    # doc 1 shares >=3 distinct 4-grams; 3 and 5 share fewer
    assert got[1] is True
    assert got[3] is False and got[5] is False


def test_decontaminate_drops_and_keeps_schema(spark, corpus):
    train, ev = corpus
    out = decontaminate(train, ev, n=4)
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 4]
    assert out.columns == train.columns


def test_short_docs_and_empty_eval(spark, corpus):
    train, _ = corpus
    empty_ev = spark.createDataFrame([], "doc_id long, text string")
    out = contamination_flags(train, empty_ev, n=4)
    assert all(not r["contaminated"] for r in out.collect())


def test_plan_is_broadcast_semi(spark, corpus):
    train, ev = corpus
    out = contamination_flags(train, ev, n=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
