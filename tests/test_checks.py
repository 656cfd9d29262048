"""Data-quality constraint checker (beats_analytics/checks.py): verdict
semantics, NULL handling, the one-pass plan shape, and guards."""

import pytest
from pyspark.sql import functions as F

from beats_analytics.checks import check_constraints


def test_verdicts_and_null_semantics(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "a", "x1"), (2, -5.0, "b", "x2"),
         (None, 20.0, "a", "y"), (4, None, "zz", "x4")],
        "uid long, v double, cat string, code string")
    out = {r.check: r for r in check_constraints(df, [
        {"completeness": {"column": "uid"}},
        {"range": {"column": "v", "min": 0.0}},
        {"in_set": {"column": "cat", "values": ["a", "b"]}},
        {"pattern": {"column": "code", "regex": "^x[0-9]$"}},
        {"non_negative": {"column": "v", "min_ratio": 0.5}},
        {"unique": {"columns": ["uid"]}},
    ]).collect()}
    c = out["completeness(uid)"]
    assert (c.n, c.satisfied, c.metric_micro, c.passed) == \
        (4, 3, 750_000, False)
    # min_ratio 0.75 flips the verdict on the same metric
    relaxed = check_constraints(df, [
        {"completeness": {"column": "uid", "min_ratio": 0.75}},
    ]).collect()[0]
    assert relaxed.metric_micro == 750_000 and relaxed.passed is True
    # NULL v fails range AND non_negative (never silently passes)
    assert out["range(v,[0.0,inf])"].satisfied == 2
    assert out["non_negative(v)"].satisfied == 2
    assert out["non_negative(v)"].passed is True  # 0.5 bar
    assert out["in_set(cat)"].satisfied == 3
    assert out["pattern(code)"].satisfied == 3
    # unique: NULL uid is one distinct value short in count_distinct
    u = out["unique(uid)"]
    assert u.satisfied == 3 and u.passed is False


def test_one_pass_plan_and_guards(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    many = check_constraints(ev, [
        {"completeness": {"column": "user_id"}},
        {"range": {"column": "value", "min": 0}},
        {"in_set": {"column": "event_type", "values": ["click"]}},
        {"non_negative": {"column": "value"}},
    ])
    plan = many._jdf.queryExecution().executedPlan().toString()
    # four scalar constraints, ONE scan: a single aggregate pair
    # around one exchange, and exactly one file scan in the plan
    assert plan.count("Scan parquet") == 1
    with pytest.raises(ValueError, match="no constraints"):
        check_constraints(ev, [])
    with pytest.raises(ValueError, match="unknown constraint"):
        check_constraints(ev, [{"frobnicate": {"column": "x"}}])


def test_profile_columns_stats_and_one_scan(spark, sf_dir):
    from beats_analytics.checks import profile_columns
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "b"), (2, "a")],
        "uid long, cat string")
    out = {r.column: r for r in
           profile_columns(df, ["uid", "cat"]).collect()}
    u = out["uid"]
    assert (u.n, u.n_null, u.n_distinct, u.min_value, u.max_value) \
        == (4, 1, 2, "1", "2")
    c = out["cat"]
    assert (c.n_null, c.n_distinct, c.min_value, c.max_value) \
        == (1, 2, "a", "b")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    plan = (profile_columns(ev, ["user_id", "event_type", "value"])
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 1
    with pytest.raises(ValueError, match="unknown columns"):
        profile_columns(ev, ["nope"])
    with pytest.raises(ValueError, match="no columns"):
        profile_columns(ev, [])


def test_corpus_report_one_pass_and_values(spark):
    from pyspark.sql import functions as F
    from beats_analytics import corpus_report
    rows = [
        (0, "a b c", "en", "h1"), (1, "a b c", "en", "h1"),   # dup pair
        (2, "x y", "fr", "h1"), (3, None, "en", "h1"),        # null text
        (4, "", "de", "h2"), (5, "long enough " * 30, "en", "h2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, "
                                     "lang string, source string")
    got = {r["domain"]: r.asDict()
           for r in corpus_report(df, quality_min_chars=10).collect()}
    h1 = got["h1"]
    assert h1["n_docs"] == 4 and h1["n_tokens"] == 8
    # 4 docs, 3 distinct digests (dup pair + null sentinel + "x y")
    assert h1["dup_rate_micro"] == 250_000
    assert h1["empty_share_micro"] == 250_000   # the NULL text
    assert h1["en_share_micro"] == 750_000
    h2 = got["h2"]
    assert h2["empty_share_micro"] == 500_000   # the '' text
    assert h2["quality_share_micro"] == 500_000
    # one-pass rule: a single pair of aggregate exchanges feeds every
    # signal (partial+final, plus the distinct expand's extra pair) —
    # crucially ONE scan of the input
    plan = corpus_report(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan") <= 2 and "EvalPython" not in plan


def test_gini_concentration_known_values(spark):
    from beats_analytics.checks import gini_concentration
    from pyspark.sql import functions as F

    def gini_of(weights):
        df = spark.createDataFrame(
            [(f"k{i}", w) for i, w in enumerate(weights)],
            "k string, w bigint")
        return gini_concentration(df, "k", "w").collect()[0]

    # perfectly even -> 0
    even = gini_of([10, 10, 10, 10])
    assert even["gini_micro"] == 0 and even["total"] == 40
    # total concentration in 1 of 4 keys -> (n-1)/n = 0.75
    conc = gini_of([0, 0, 0, 100])
    assert conc["gini_micro"] == 750000
    # hand case [1,2,3,4]: G = (2*(1+4+9+16) - 5*10) / (4*10) = 0.25
    assert gini_of([1, 2, 3, 4])["gini_micro"] == 250000
    # duplicate rows per key are summed first
    df = spark.createDataFrame(
        [("a", 1), ("a", 9), ("b", 10)], "k string, w bigint")
    r = gini_concentration(df, "k", "w").collect()[0]
    assert r["n_keys"] == 2 and r["gini_micro"] == 0
