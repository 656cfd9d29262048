"""A condition over a missing (null) field: Go's ``GetValue`` fails on
the key, so ``contains``, ``regexp``, ``range`` and ``network`` are
false, ``not`` of them is true and ``drop_event`` under them keeps the
event. Each test runs one Spark query."""

from functools import reduce

from pyspark.sql import functions as F

from beats_spark.conditions import compile_condition
from beats_spark.lookup import local_frame
from beats_spark.processors import compile_processors

LEAVES = {
    "contains": {"contains": {"msg": "x"}},
    "regexp": {"regexp": {"msg": "^x"}},
    "range": {"range": {"n": {"gte": 3}}},
    "network": {"network": {"ip": "private"}},
}


def _events(spark):
    return local_frame(spark, [(1, "x marks", "10.0.0.1", 5.0),
                               (2, "y", "8.8.8.8", 1.0),
                               (3, None, None, None)],
                       "id int, msg string, ip string, n double")


def test_not_over_null_field_matches(spark):
    out = _events(spark).select("id", *[
        compile_condition({"not": cond}).alias(kind)
        for kind, cond in LEAVES.items()])
    got = {r["id"]: [r[k] for k in LEAVES] for r in out.collect()}
    assert got == {1: [False] * 4, 2: [True] * 4, 3: [True] * 4}


def test_drop_event_keeps_row_without_field(spark):
    df = _events(spark)
    kept = reduce(lambda a, b: a.unionByName(b), [
        compile_processors([{"drop_event": {}, "when": cond}])(df)
        .select(F.lit(kind).alias("kind"), "id")
        for kind, cond in LEAVES.items()])
    got = sorted((r["kind"], r["id"]) for r in kept.collect())
    assert got == sorted((k, i) for k in LEAVES for i in (2, 3))
