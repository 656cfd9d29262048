"""Governance primitives: k-anonymity, violation audit, purge; plus
session co-visitation."""

import pytest
from pyspark.sql import functions as F

from beats_analytics.governance import (
    k_anonymize, k_violations, purge_ids)
from beats_analytics.events import covisitation


def _rows(spark):
    # QI (city, age): ("a", 30) ×3, ("a", 40) ×1, ("b", 30) ×2
    return spark.createDataFrame(
        [(1, "a", 30), (2, "a", 30), (3, "a", 30),
         (4, "a", 40), (5, "b", 30), (6, "b", 30)],
        "id bigint, city string, age int")


def test_k_anonymize_suppresses_small_groups(spark):
    df = _rows(spark)
    kept = {r["id"] for r in k_anonymize(df, ["city", "age"], 2).collect()}
    assert kept == {1, 2, 3, 5, 6}
    kept3 = {r["id"] for r in k_anonymize(df, ["city", "age"], 3).collect()}
    assert kept3 == {1, 2, 3}
    # k=1 keeps everything
    assert k_anonymize(df, ["city", "age"], 1).count() == 6


def test_k_violations_audit(spark):
    df = _rows(spark)
    v = {(r["city"], r["age"]): r["n"]
         for r in k_violations(df, ["city", "age"], 3).collect()}
    assert v == {("a", 40): 1, ("b", 30): 2}
    with pytest.raises(ValueError, match="k must be"):
        k_violations(df, ["city"], 0)
    with pytest.raises(ValueError, match="quasi_cols"):
        k_anonymize(df, [], 2)


def test_purge_ids_anti_join(spark):
    df = _rows(spark)
    tomb = spark.createDataFrame([(2,), (5,), (99,)], "id bigint")
    left = {r["id"] for r in purge_ids(df, tomb, "id").collect()}
    assert left == {1, 3, 4, 6}
    # purge is idempotent
    assert purge_ids(purge_ids(df, tomb, "id"), tomb, "id").count() == 4


def test_covisitation_counts_and_fixed_point(spark):
    # sessions: s1={x,y,z}, s2={x,y}, s3={x}
    df = spark.createDataFrame(
        [("s1", "x"), ("s1", "y"), ("s1", "z"), ("s1", "x"),  # dup row
         ("s2", "x"), ("s2", "y"), ("s3", "x"), ("s3", None)],
        "sid string, item string")
    out = {(r["item_a"], r["item_b"]): r
           for r in covisitation(df, session_cols=("sid",),
                                 item_col="item").collect()}
    xy = out[("x", "y")]
    assert xy["c_ab"] == 2 and xy["c_a"] == 3 and xy["c_b"] == 2
    # conf = P(y|x) = (1e6*2) div 3; lift = (conf * 3 sessions) div 2
    assert xy["conf_micro"] == 666666
    assert xy["lift_micro"] == (666666 * 3) // 2
    assert out[("y", "z")]["c_ab"] == 1
    assert ("x", "x") not in out          # a < b only, dups collapsed


def test_covisitation_session_cap(spark):
    df = spark.createDataFrame(
        [("s", f"i{k:02d}") for k in range(10)] + [("t", "i00"),
                                                   ("t", "i01")],
        "sid string, item string")
    out = covisitation(df, session_cols=("sid",), item_col="item",
                       max_items_per_session=3, top_n=100).collect()
    pairs = {(r["item_a"], r["item_b"]) for r in out}
    # only the 3 lowest item ids of session s survive the cap
    assert pairs == {("i00", "i01"), ("i00", "i02"), ("i01", "i02")}
    # c_ab for (i00,i01): both sessions
    c = {(r["item_a"], r["item_b"]): r["c_ab"] for r in out}
    assert c[("i00", "i01")] == 2


def test_dp_counts_noise_spec(spark):
    """Noise must follow the documented md5 inverse-CDF spec exactly."""
    import hashlib
    import math
    from beats_analytics.governance import dp_counts
    df = spark.createDataFrame(
        [("x",)] * 5 + [("y",)] * 2, "g string")
    out = {r["g"]: r for r in dp_counts(df, ["g"]).collect()}

    def expected(g, n):
        v = int(hashlib.md5(f"{g}|seed42".encode()).hexdigest()[:15], 16)
        u = v / float(1 << 60) - 0.5
        noise = -1.0 * math.copysign(1.0, u) * math.log(1 - 2 * abs(u))
        if u == 0:
            noise = 0.0
        return n * 1_000_000 + round(1e6 * noise)

    assert out["x"]["n"] == 5
    assert out["x"]["noisy_micro"] == expected("x", 5)
    assert out["y"]["noisy_micro"] == expected("y", 2)
    # epsilon scales the noise magnitude: smaller eps -> more noise
    loose = {r["g"]: r["noisy_micro"]
             for r in dp_counts(df, ["g"],
                                epsilon_micro=100_000).collect()}
    assert abs(abs(loose["x"] - 5_000_000)
               - 10 * abs(out["x"]["noisy_micro"] - 5_000_000)) <= 10
    import pytest
    with pytest.raises(ValueError, match="epsilon_micro"):
        dp_counts(df, ["g"], epsilon_micro=0)


def test_ab_test_decision_boundary(spark):
    from beats_analytics.events import ab_test

    def build(n_a, c_a, n_b, c_b):
        rows = []
        for i in range(n_a):
            rows.append(("a", i, i < c_a))
        for i in range(n_b):
            rows.append(("b", 10_000 + i, i < c_b))
        return spark.createDataFrame(
            rows, "variant string, user_id bigint, converted boolean")

    # wildly different: 80/100 vs 20/100 -> significant at z=2
    r = ab_test(build(100, 80, 100, 20)).collect()[0]
    assert r["significant"] is True
    assert r["p_a_micro"] == 800000 and r["p_b_micro"] == 200000
    assert (r["variant_a"], r["variant_b"]) == ("a", "b")
    # identical arms -> not significant (d == 0)
    r2 = ab_test(build(100, 30, 100, 30)).collect()[0]
    assert r2["significant"] is False
    # duplicate events per user collapse: same user converting twice
    df = build(50, 10, 50, 10).union(
        spark.createDataFrame([("a", 0, True)] * 5,
                              "variant string, user_id bigint, "
                              "converted boolean"))
    r3 = ab_test(df).collect()[0]
    assert r3["n_a"] == 50 and r3["c_a"] == 10
    # a third arm is visible, not silently dropped
    df3 = build(50, 10, 50, 10).union(spark.createDataFrame(
        [("c", 99_999, True)],
        "variant string, user_id bigint, converted boolean"))
    assert ab_test(df3).collect()[0]["n_variants"] == 3


def test_calibration_bins_known_values(spark):
    from beats_analytics.mleval import calibration_bins
    df = spark.createDataFrame(
        # bin 0: two negatives at p=0.05 ([0, 0.1) is bin 0)
        [(50000, 0), (50000, 0),
         # bin 9: p=0.95 and p=1.0 (clamped into bin 9), both positive
         (950000, 1), (1000000, 1)],
        "p_micro bigint, label int")
    out = {r["bin"]: r for r in calibration_bins(df).collect()}
    assert out[0]["conf_micro"] == 50000 and out[0]["acc_micro"] == 0
    assert out[9]["conf_micro"] == 975000
    assert out[9]["acc_micro"] == 1000000
    # ECE = (2*50000 + 2*25000) // 4 = 37500, on every row
    assert {r["ece_micro"] for r in out.values()} == {37500}
    import pytest
    with pytest.raises(ValueError, match="n_bins"):
        calibration_bins(df, n_bins=0)


def test_ips_value_known_values(spark):
    from beats_analytics.mleval import ips_value
    df = spark.createDataFrame(
        # matched: p=0.5 w=2.0 r=1.0 -> wr 2.0; p=0.25 w=4.0 r=0.5 -> 2.0
        [("a", "a", 500000, 1000000),
         ("b", "b", 250000, 500000),
         # unmatched row contributes only to N
         ("a", "b", 500000, 1000000)],
        "action string, target_action string, "
        "propensity_micro bigint, reward_micro bigint")
    r = ips_value(df).collect()[0]
    assert r["n"] == 3 and r["n_matched"] == 2
    assert r["ips_micro"] == (2_000_000 + 2_000_000) // 3
    # SNIPS: Σwr / Σw = 4.0 / 6.0
    assert r["snips_micro"] == 4_000_000 // 6
    # nothing matched -> NULL snips, 0 ips
    none = ips_value(df.filter("action <> target_action")).collect()[0]
    assert none["snips_micro"] is None and none["ips_micro"] == 0
    # weight clip engages at tiny propensities
    tiny = spark.createDataFrame(
        [("a", "a", 1, 1_000_000)],
        "action string, target_action string, "
        "propensity_micro bigint, reward_micro bigint")
    clipped = ips_value(tiny).collect()[0]
    assert clipped["ips_micro"] == 100_000_000  # cap 1e8 * r 1.0


def test_auc_roc_known_values(spark):
    from beats_analytics.mleval import auc_roc
    # perfect separation: every positive above every negative -> 1.0
    df = spark.createDataFrame(
        [(10, 0), (20, 0), (30, 1), (40, 1)],
        "score_micro bigint, label int")
    r = auc_roc(df).collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc_micro"]) == (2, 2, 1_000_000)
    # all scores tied -> pure ties, AUC exactly 1/2
    tied = spark.createDataFrame(
        [(5, 1), (5, 0), (5, 1), (5, 0)],
        "score_micro bigint, label int")
    assert auc_roc(tied).collect()[0]["auc_micro"] == 500_000
    # hand case: scores pos {3, 1}, neg {2, 1}
    # pairs: (3>2),(3>1) concordant; (1,1) tie; (1<2) discordant
    # AUC = (2 + 0.5)/4 = 0.625
    mix = spark.createDataFrame(
        [(3, 1), (1, 1), (2, 0), (1, 0)],
        "score_micro bigint, label int")
    assert auc_roc(mix).collect()[0]["auc_micro"] == 625_000
    # single-class input -> NULL, not a crash or a division error
    pos_only = spark.createDataFrame(
        [(7, 1), (9, 1)], "score_micro bigint, label int")
    r = auc_roc(pos_only).collect()[0]
    assert r["n_neg"] == 0 and r["auc_micro"] is None


def test_auc_roc_matches_pandas_rank_sum(spark, sf_dir):
    from beats_analytics.mleval import auc_roc
    from pyspark.sql import functions as F
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        ((F.col("event_id") * 48271) % 99991).alias("score_micro"),
        (F.col("value") > 50).alias("label"))
    got = auc_roc(ev).collect()[0]
    pdf = ev.toPandas()
    y = pdf["label"].astype(int)
    ranks = pdf["score_micro"].rank(method="average")
    n_pos, n_neg = int(y.sum()), int((1 - y).sum())
    u = float(ranks[y == 1].sum()) - n_pos * (n_pos + 1) / 2
    want = int(u * 2 * 1_000_000 // (2 * n_pos * n_neg))
    assert (got["n_pos"], got["n_neg"]) == (n_pos, n_neg)
    assert got["auc_micro"] == want


def test_l_diversity_violations_and_keep(spark):
    import pytest
    from beats_analytics.governance import l_diversify, l_violations
    df = spark.createDataFrame(
        # group (a): 3 rows, 1 distinct sensitive -> violates l=2
        [("a", "flu"), ("a", "flu"), ("a", "flu"),
         # group (b): 2 rows, 2 distinct -> ok
         ("b", "flu"), ("b", "cold")],
        "zip string, dx string")
    v = l_violations(df, ["zip"], "dx", 2).collect()
    assert len(v) == 1
    assert (v[0]["zip"], v[0]["n"], v[0]["n_sensitive"]) == ("a", 3, 1)
    kept = l_diversify(df, ["zip"], "dx", 2)
    assert sorted(r["zip"] for r in kept.collect()) == ["b", "b"]
    with pytest.raises(ValueError, match="l must be >= 1"):
        l_violations(df, ["zip"], "dx", 0)
    with pytest.raises(ValueError, match="quasi_cols"):
        l_violations(df, [], "dx", 2)


def test_cohen_kappa_known_values(spark):
    from beats_analytics.labeling import cohen_kappa
    # classic textbook 2x2: a/b counts yes-yes 20, yes-no 5,
    # no-yes 10, no-no 15 -> po=0.7, pe=(25*30 + 25*20)/2500=0.5,
    # kappa = 0.4
    rows = ([("y", "y")] * 20 + [("y", "n")] * 5
            + [("n", "y")] * 10 + [("n", "n")] * 15)
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohen_kappa(df, "a", "b").collect()[0]
    assert (r["n"], r["po_micro"], r["pe_micro"]) == (50, 700000, 500000)
    assert r["kappa_micro"] == 400000
    # constant raters: pe = 1.0 -> kappa NULL, not a crash
    const = spark.createDataFrame([("y", "y")] * 4, "a string, b string")
    r = cohen_kappa(const, "a", "b").collect()[0]
    assert r["po_micro"] == 1_000_000 and r["kappa_micro"] is None
    # abstains (NULLs) drop before anything else
    ab = spark.createDataFrame(
        [("y", "y"), ("y", None), (None, "n")], "a string, b string")
    assert cohen_kappa(ab, "a", "b").collect()[0]["n"] == 1
