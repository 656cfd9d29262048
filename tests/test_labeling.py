"""weak_label_vote / lf_summary: Snorkel-style weak supervision."""
import pytest

from beats_analytics.labeling import lf_summary, weak_label_vote


def _df(spark):
    # r1, r2, r3 vote in {-1 abstain, 0, 1, 2}
    return spark.createDataFrame(
        [(1, 1, 1, -1),    # clean majority 1 (2 votes)
         (2, 0, 1, -1),    # 0 vs 1 tie -> NULL
         (3, -1, -1, -1),  # all abstain -> NULL, n_votes 0
         (4, 2, 2, 0),     # majority 2, margin 1
         (5, None, 1, -1), # NULL rule value counts as abstain
         (6, 0, 0, 0)],    # unanimous
        "id long, r1 int, r2 int, r3 int")


def test_weak_label_vote_majority_ties_and_confidence(spark):
    out = {r["id"]: r for r in
           weak_label_vote(_df(spark), ["r1", "r2", "r3"]).collect()}
    assert out[1]["label"] == 1 and out[1]["n_votes"] == 2
    assert out[1]["margin"] == 2 and out[1]["confidence_micro"] == 1_000_000
    assert out[2]["label"] is None and out[2]["margin"] == 0
    assert out[3]["label"] is None and out[3]["n_votes"] == 0
    assert out[3]["confidence_micro"] is None
    assert out[4]["label"] == 2 and out[4]["margin"] == 1
    assert out[4]["confidence_micro"] == 666_666  # 2*1e6 // 3
    assert out[5]["label"] == 1 and out[5]["n_votes"] == 1
    assert out[6]["label"] == 0 and out[6]["confidence_micro"] == 1_000_000
    # input columns preserved, zero exchanges
    res = weak_label_vote(_df(spark), ["r1", "r2", "r3"])
    assert set(("id", "r1", "r2", "r3")) <= set(res.columns)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_weak_label_vote_guards(spark):
    df = _df(spark)
    with pytest.raises(ValueError, match="non-empty"):
        weak_label_vote(df, [])
    with pytest.raises(ValueError, match="duplicate"):
        weak_label_vote(df, ["r1", "r1"])
    with pytest.raises(ValueError, match="not in DataFrame"):
        weak_label_vote(df, ["r1", "nope"])


def test_lf_summary_coverage_overlap_conflict(spark):
    out = {r["rule"]: r for r in
           lf_summary(_df(spark), ["r1", "r2", "r3"]).collect()}
    # r1 votes on ids 1,2,4,6 (NULL on 5 is abstain)
    assert out["r1"]["n_rows"] == 6
    assert out["r1"]["coverage"] == 4
    # r1 overlaps wherever it votes and another votes: 1,2,4,6
    assert out["r1"]["overlaps"] == 4
    # r1 conflicts on id 2 (r2 disagrees) and id 4 (r3 says 0, r1
    # says 2); ids 1,6 agree
    assert out["r1"]["conflicts"] == 2
    assert out["r1"]["coverage_micro"] == 666_666
    assert out["r1"]["conflict_micro"] == 333_333
    # r3 votes on 4 and 6; conflicts on 4 (others say 2)
    assert out["r3"]["coverage"] == 2
    assert out["r3"]["overlaps"] == 2
    assert out["r3"]["conflicts"] == 1
    # r2 votes on 1,2,4,5,6; on 5 it is the ONLY voter -> no overlap;
    # conflicts on 2 (r1) and 4 (r3)
    assert out["r2"]["coverage"] == 5
    assert out["r2"]["overlaps"] == 4
    assert out["r2"]["conflicts"] == 2


def test_filter_sweep_retention_and_guards(spark):
    from beats_analytics.sample import filter_sweep
    df = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200), (3, 30, None),
         (4, None, 400), (5, 20, 50)],
        "id long, score int, toks int")
    out = {r["threshold"]: r for r in
           filter_sweep(df, "score", [30, 10, 20],
                        weight_col="toks").collect()}
    assert sorted(out) == [10, 20, 30]
    # t=10: docs 1,2,3,5 (NULL score excluded); weight 100+200+0+50
    assert out[10]["docs_retained"] == 4
    assert out[10]["weight_retained"] == 350
    assert out[10]["docs_micro"] == 800_000          # 4/5
    assert out[10]["weight_micro"] == 466_666        # 350/750
    assert out[20]["docs_retained"] == 3
    assert out[30]["docs_retained"] == 1
    assert out[30]["weight_retained"] == 0           # doc 3 NULL toks
    # no weight col: weight == doc count
    unw = {r["threshold"]: r
           for r in filter_sweep(df, "score", [20]).collect()}
    assert unw[20]["weight_retained"] == unw[20]["docs_retained"] == 3
    with pytest.raises(ValueError, match="non-empty"):
        filter_sweep(df, "score", [])
    with pytest.raises(ValueError, match="duplicate"):
        filter_sweep(df, "score", [10, 10])
    # single aggregate: exactly one exchange pair, one scan
    plan = filter_sweep(df, "score", [10, 20, 30], weight_col="toks") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2
