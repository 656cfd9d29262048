"""Unit tests for beats_analytics.events (sessionize / asof_join /
percentile_rollup) and beats_analytics.graph (pagerank)."""

import datetime as dt

import pytest
from pyspark.sql import Row

from beats_analytics import (
    asof_join, funnel_steps, inverted_index, pagerank,
    percentile_rollup, retention_cohorts, session_rollup, sessionize,
)


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


@pytest.fixture()
def ev(spark):
    rows = [
        # user 1: two sessions — the 31-minute gap splits, the
        # exactly-30-minute gap does NOT (boundary is strict >)
        Row(user_id=1, ts=_ts(0), event_id=1),
        Row(user_id=1, ts=_ts(30), event_id=2),    # gap == 1800 s
        Row(user_id=1, ts=_ts(30, 1), event_id=3),
        Row(user_id=2, ts=_ts(0), event_id=4),
        Row(user_id=2, ts=_ts(0), event_id=5),     # equal ts
        Row(user_id=2, ts=_ts(45), event_id=6),    # 45 min > gap
    ]
    return spark.createDataFrame(rows)


class TestSessionize:
    def test_gap_boundary_and_ties(self, ev):
        out = {r.event_id: r.session_seq
               for r in sessionize(ev, gap_seconds=1800).collect()}
        assert out[1] == out[2] == out[3] == 1   # 1800 s continues
        assert out[4] == out[5] == 1             # equal ts: one session
        assert out[6] == 2                       # 2700 s starts new

    def test_rollup_counts_and_duration(self, ev):
        r = {(x.user_id, x.session_seq): x
             for x in session_rollup(ev, gap_seconds=1800).collect()}
        assert r[(1, 1)].n_events == 3
        assert r[(1, 1)].duration_s == pytest.approx(1801.0)
        assert r[(2, 2)].n_events == 1
        assert r[(2, 2)].duration_s == 0.0

    def test_null_ts_fails_loudly(self, spark):
        df = spark.createDataFrame(
            [Row(user_id=1, ts=None, event_id=1)],
            "user_id long, ts timestamp, event_id long")
        with pytest.raises(Exception, match="sessionize: null ts"):
            sessionize(df).collect()

    def test_single_exchange(self, ev):
        plan = sessionize(ev)._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1


class TestAsofJoin:
    def test_backward_inclusive_and_null(self, spark):
        left = spark.createDataFrame(
            [Row(k=1, ts=_ts(10), lid=100),
             Row(k=1, ts=_ts(0), lid=101),   # before any right row
             Row(k=2, ts=_ts(10), lid=102)])  # key with no right rows
        right = spark.createDataFrame(
            [Row(k=1, ts=_ts(5), rid=7),
             Row(k=1, ts=_ts(10), rid=8)])    # simultaneous: visible
        out = {r.lid: r.asof_rid for r in asof_join(
            left, right, on="k", payload_cols=["rid"],
            tie_cols=["rid"]).collect()}
        assert out == {100: 8, 101: None, 102: None}

    def test_tie_cols_pick_greatest(self, spark):
        left = spark.createDataFrame([Row(k=1, ts=_ts(10), lid=1)])
        right = spark.createDataFrame(
            [Row(k=1, ts=_ts(5), rid=3), Row(k=1, ts=_ts(5), rid=9)])
        out = asof_join(left, right, on="k", payload_cols=["rid"],
                        tie_cols=["rid"]).collect()
        assert out[0].asof_rid == 9

    def test_guards(self, spark):
        left = spark.createDataFrame([Row(k=1, ts=_ts(0), asof_rid=1)])
        right = spark.createDataFrame([Row(k=1, ts=_ts(0), rid=2)])
        with pytest.raises(ValueError, match="already exist"):
            asof_join(left, right, on="k", payload_cols=["rid"])
        with pytest.raises(ValueError, match="lacks"):
            asof_join(left, right, on="k", payload_cols=["nope"])

    def test_no_join_node(self, spark):
        left = spark.createDataFrame([Row(k=1, ts=_ts(1), lid=1)])
        right = spark.createDataFrame([Row(k=1, ts=_ts(0), rid=2)])
        plan = asof_join(left, right, on="k", payload_cols=["rid"]) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan  # union + window, never a join


class TestPercentileRollup:
    def test_exact_values_and_names(self, spark):
        df = spark.createDataFrame(
            [Row(g="a", v=float(x)) for x in range(1, 5)])
        out = percentile_rollup(df, "g", "v",
                                percentiles=(0.5, 0.999)).collect()[0]
        assert out.n == 4
        assert out.p50 == 2.5          # interpolated between 2 and 3
        assert out.p99_9 == pytest.approx(3.997)
        assert "p99_9" in out.asDict()


class TestInvertedIndex:
    def test_bounds_and_sorted_postings(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=2, text="b a a"), Row(doc_id=1, text="a c"),
             Row(doc_id=3, text="a")])
        out = {r.term: r for r in
               inverted_index(df, min_df=2).collect()}
        assert list(out) == ["a"]  # b, c fall under min_df
        assert out["a"].doc_freq == 3
        assert out["a"].postings == [1, 2, 3]  # sorted, deduped
        assert inverted_index(df, min_df=1, max_df=2).count() == 2
        with pytest.raises(ValueError, match="max_df"):
            inverted_index(df, min_df=3, max_df=2)


class TestPagerank:
    def test_known_graph_exact(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (4, 1), (1, 1), (1, 2)],
            ["src", "dst"])  # self-loop + duplicate must be ignored
        got = {r.node: r.rank_micro
               for r in pagerank(edges, iters=3).collect()}
        scale, n = 1_000_000, 4
        base = (scale * 15) // (100 * n)
        r = {i: scale // n for i in range(1, 5)}
        for _ in range(3):
            s = {}
            for (u, v) in [(1, 2), (2, 3), (3, 1), (4, 1)]:
                s[v] = s.get(v, 0) + r[u]  # out-degree 1 everywhere
            r = {i: base + (s.get(i, 0) * 85) // 100
                 for i in range(1, 5)}
        assert got == r

    def test_iters_zero_is_uniform_init(self, spark):
        edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
        got = {r.node: r.rank_micro
               for r in pagerank(edges, iters=0).collect()}
        assert got == {1: 500_000, 2: 500_000}

    def test_param_guards(self, spark):
        edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
        with pytest.raises(ValueError, match="iters"):
            pagerank(edges, iters=-1)
        with pytest.raises(ValueError, match="damping_pct"):
            pagerank(edges, damping_pct=101)


class TestFunnel:
    def test_strictly_after_chain(self, spark):
        rows = [
            # user 1 completes all three in order
            Row(user_id=1, ts=_ts(0), event_type="signup"),
            Row(user_id=1, ts=_ts(1), event_type="click"),
            Row(user_id=1, ts=_ts(2), event_type="purchase"),
            # user 2: purchase BEFORE click — chain stops at signup
            Row(user_id=2, ts=_ts(0), event_type="signup"),
            Row(user_id=2, ts=_ts(1), event_type="purchase"),
            Row(user_id=2, ts=_ts(2), event_type="click"),
            # user 3: click at the SAME instant as signup — strictly
            # after, so it does not advance the funnel
            Row(user_id=3, ts=_ts(5), event_type="signup"),
            Row(user_id=3, ts=_ts(5), event_type="click"),
            # user 4: never signs up
            Row(user_id=4, ts=_ts(0), event_type="click"),
        ]
        out = {r.user_id: r for r in funnel_steps(
            spark.createDataFrame(rows),
            ["signup", "click", "purchase"]).collect()}
        assert out[1].steps_completed == 3
        assert out[1].step3_ts == _ts(2)
        assert out[2].steps_completed == 2   # signup, then later click
        assert out[2].step3_ts is None       # purchase was before click
        assert out[3].steps_completed == 1
        assert out[4].steps_completed == 0
        assert out[4].step1_ts is None

    def test_single_exchange_no_join(self, spark):
        df = spark.createDataFrame(
            [Row(user_id=1, ts=_ts(0), event_type="signup")])
        plan = funnel_steps(df, ["signup", "click"]) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan

    def test_empty_steps_raise(self, spark):
        df = spark.createDataFrame(
            [Row(user_id=1, ts=_ts(0), event_type="x")])
        with pytest.raises(ValueError, match="non-empty"):
            funnel_steps(df, [])


class TestRetention:
    def test_triangle(self, spark):
        d0 = dt.datetime(2024, 1, 1)          # a Monday
        rows = [
            Row(user_id=1, ts=d0),
            Row(user_id=1, ts=d0 + dt.timedelta(days=8)),   # week 1
            Row(user_id=2, ts=d0 + dt.timedelta(days=2)),   # same cohort
            Row(user_id=3, ts=d0 + dt.timedelta(days=7)),   # next cohort
        ]
        out = {(str(r.cohort_week), r.week_offset): r.n_active
               for r in retention_cohorts(
                   spark.createDataFrame(rows)).collect()}
        assert out[("2024-01-01", 0)] == 2
        assert out[("2024-01-01", 1)] == 1
        assert out[("2024-01-08", 0)] == 1
        assert len(out) == 3


class TestTemplates:
    def test_masking_precedence(self, spark):
        from beats_analytics import log_templates
        rows = [
            Row(message="req 550e8400-e29b-41d4-a716-446655440000 "
                        "from 10.1.2.3 took 42 ms"),
            Row(message="req 123e4567-e89b-12d3-a456-426614174000 "
                        "from 10.9.8.7 took 7 ms"),
            Row(message="ptr 0xdeadBEEF shifted 3"),
        ]
        out = {r.template: r for r in log_templates(
            spark.createDataFrame(rows), text_col="message").collect()}
        assert out["req <uuid> from <ip> took <num> ms"].n_lines == 2
        # min() example is deterministic: the 123e... line sorts first
        assert out["req <uuid> from <ip> took <num> ms"].example \
            .startswith("req 123e4567")
        assert "ptr <hex> shifted <num>" in out

    def test_min_count(self, spark):
        from beats_analytics import log_templates
        df = spark.createDataFrame(
            [Row(message="a 1"), Row(message="a 2"), Row(message="b")])
        assert log_templates(df, text_col="message",
                             min_count=2).count() == 1


class TestCountAnomalies:
    def _counts(self, spark, vals):
        return spark.createDataFrame(
            [Row(g="x", b=i, c=v) for i, v in enumerate(vals)])

    def test_spike_flagged_warmup_null(self, spark):
        from beats_analytics import count_anomalies
        # 10 steady buckets then a 10x spike
        vals = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100, 1000]
        out = {r.b: r for r in count_anomalies(
            self._counts(spark, vals), "g", "b", "c",
            trailing=24, min_points=6).collect()}
        assert out[10].is_anomaly is True
        assert out[9].is_anomaly is False
        # first 6 buckets have < 6 priors: tri-state NULL
        for i in range(6):
            assert out[i].is_anomaly is None
        assert out[0].n_prior == 0

    def test_zero_variance_flags_any_deviation(self, spark):
        from beats_analytics import count_anomalies
        vals = [50] * 8 + [51]
        out = {r.b: r.is_anomaly for r in count_anomalies(
            self._counts(spark, vals), "g", "b", "c",
            min_points=6).collect()}
        assert out[8] is True      # (x*n - s)^2 > 0, rhs == 0
        assert out[7] is False

    def test_exact_boundary_matches_python(self, spark):
        from beats_analytics import count_anomalies
        import statistics
        vals = [10, 12, 11, 13, 9, 11, 10, 12, 18]
        out = {r.b: r.is_anomaly for r in count_anomalies(
            self._counts(spark, vals), "g", "b", "c",
            min_points=6, z=3).collect()}
        prior = vals[:8]
        zscore = abs(vals[8] - statistics.mean(prior)) \
            / statistics.stdev(prior)
        assert out[8] == (zscore > 3)

    def test_min_points_guard(self, spark):
        from beats_analytics import count_anomalies
        with pytest.raises(ValueError, match="min_points"):
            count_anomalies(self._counts(spark, [1]), "g", "b", "c",
                            min_points=1)


class TestScd2Join:
    def test_interval_containment_gap_and_current(self, spark):
        from beats_analytics import scd2_join
        dim = spark.createDataFrame(
            [Row(k=1, valid_from=_ts(0), valid_to=_ts(10), cfg="v1"),
             Row(k=1, valid_from=_ts(20), valid_to=None, cfg="v2")])
        left = spark.createDataFrame(
            [Row(k=1, ts=_ts(5), lid=1),    # inside v1
             Row(k=1, ts=_ts(10), lid=2),   # v1 expired AT valid_to
             Row(k=1, ts=_ts(15), lid=3),   # gap between versions
             Row(k=1, ts=_ts(20), lid=4),   # v2 starts (inclusive)
             Row(k=1, ts=_ts(50), lid=5),   # v2 is current (NULL to)
             Row(k=2, ts=_ts(5), lid=6)])   # key with no versions
        out = {r.lid: r.dim_cfg for r in scd2_join(
            left, dim, on="k").collect()}
        assert out == {1: "v1", 2: None, 3: None, 4: "v2",
                       5: "v2", 6: None}

    def test_no_join_node(self, spark):
        from beats_analytics import scd2_join
        dim = spark.createDataFrame(
            [(1, _ts(0), None, "v1")],
            "k long, valid_from timestamp, valid_to timestamp, "
            "cfg string")
        left = spark.createDataFrame([Row(k=1, ts=_ts(5), lid=1)])
        plan = scd2_join(left, dim, on="k") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan


class TestStratifiedSample:
    def test_exact_counts_and_nesting(self, spark):
        from beats_analytics import stratified_sample
        df = spark.createDataFrame(
            [Row(g="a", k=i) for i in range(50)]
            + [Row(g="b", k=i + 100) for i in range(3)])
        out = stratified_sample(df, "g", "k", 10)
        counts = {r.g: r["count"] for r in
                  out.groupBy("g").count().collect()}
        assert counts == {"a": 10, "b": 3}  # min(n, |group|)
        # smaller n draws a SUBSET of the larger draw
        k5 = {r.k for r in stratified_sample(df, "g", "k", 5).collect()}
        k10 = {r.k for r in out.collect()}
        assert k5 < k10

    def test_seed_independence_and_guard(self, spark):
        from beats_analytics import stratified_sample
        df = spark.createDataFrame([Row(g="a", k=i) for i in range(40)])
        s1 = {r.k for r in
              stratified_sample(df, "g", "k", 10, seed="s1").collect()}
        s2 = {r.k for r in
              stratified_sample(df, "g", "k", 10, seed="s2").collect()}
        assert s1 != s2
        with pytest.raises(ValueError, match="n must be"):
            stratified_sample(df, "g", "k", 0)


class TestApproxPercentile:
    def test_sketch_within_rank_tolerance(self, spark):
        df = spark.createDataFrame(
            [Row(g="a", v=float(x)) for x in range(1, 10001)])
        ex = percentile_rollup(df, "g", "v").collect()[0]
        ap = percentile_rollup(df, "g", "v", exact=False,
                               accuracy=10000).collect()[0]
        for c in ("p50", "p95", "p99"):
            # rank error <= 1/accuracy => value error <= ~N/accuracy
            assert abs(ex[c] - ap[c]) <= 10000 / 10000 + 1


class TestReviewRegressions3:
    def test_scd2_same_valid_from_longest_lived_wins(self, spark):
        """Two versions sharing a valid_from resolve deterministically
        to the longest-lived one (NULL = current wins outright)."""
        from beats_analytics import scd2_join
        left = spark.createDataFrame([Row(k=1, ts=_ts(5), lid=1)])
        dim = spark.createDataFrame(
            [(1, _ts(0), _ts(0), "zero_len"),
             (1, _ts(0), _ts(30), "long")],
            "k long, valid_from timestamp, valid_to timestamp, "
            "cfg string")
        for _ in range(3):  # repartition-independent
            got = scd2_join(left, dim.repartition(4), on="k") \
                .collect()[0].dim_cfg
            assert got == "long"
        dim2 = spark.createDataFrame(
            [(1, _ts(0), _ts(30), "bounded"),
             (1, _ts(0), None, "current")],
            "k long, valid_from timestamp, valid_to timestamp, "
            "cfg string")
        assert scd2_join(left, dim2, on="k") \
            .collect()[0].dim_cfg == "current"

    def test_inverted_index_duplicate_doc_rows(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=1, text="a b"), Row(doc_id=1, text="a c")])
        out = {r.term: r for r in inverted_index(df).collect()}
        assert out["a"].doc_freq == 1      # not inflated by dup rows
        assert out["a"].postings == [1]    # no repeated ids

    def test_zorder_exact_past_double_precision(self, spark):
        """Boundary buckets stay exact for ranges where double
        division misrounds (scaled offset > 2^53): epoch-millis-wide
        domain, value sitting exactly one unit below a bucket edge."""
        from pyspark.sql import functions as F
        from beats_analytics import zorder_key
        lo, hi, bits = 0, (1 << 41) - 1, 16   # span 2^41, pos ~2^57
        span = hi - lo + 1
        # exact integer bucketing for a value 1 below the k=7 edge
        v = (7 * span) // (1 << bits) - 1
        want = (v * (1 << bits)) // span
        df = spark.createDataFrame([(v, 0)], "x long, y long")
        z = df.select(zorder_key(
            [F.col("x"), F.col("y")], [lo, 0], [hi, 0],
            bits=16).alias("z")).collect()[0].z
        got_bucket = 0
        for b in range(16):
            got_bucket |= ((z >> (2 * b)) & 1) << b
        assert got_bucket == want

    def test_pagerank_scale_guard(self, spark):
        edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
        with pytest.raises(ValueError, match="scale"):
            pagerank(edges, scale=10 ** 16)


class TestReviewRegressions3b:
    def test_zorder_halfup_counterexample(self, spark):
        """Reviewer counterexample: span 2^41+1, x = 2^25 gives
        pos/span = 1 - 1/span, which a HALF_UP decimal quotient
        rounds to 1 before the floor; the exact floor is 0."""
        from pyspark.sql import functions as F
        from beats_analytics import zorder_key
        span = (1 << 41) + 1
        df = spark.createDataFrame([(1 << 25, 0)], "x long, y long")
        z = df.select(zorder_key([F.col("x"), F.col("y")],
                                 [0, 0], [span - 1, 0],
                                 bits=16).alias("z")).collect()[0].z
        bucket = 0
        for b in range(16):
            bucket |= ((z >> (2 * b)) & 1) << b
        assert bucket == ((1 << 25) * (1 << 16)) // span == 0

    def test_zorder_max_span_boundaries(self, spark):
        """At the guard's maximum span (10^17), values exactly one
        below and at a bucket edge floor exactly."""
        from pyspark.sql import functions as F
        from beats_analytics import zorder_key
        span, bits = 10 ** 17, 16
        edge = (7 * span) // (1 << bits)  # first value in bucket 7
        rows = [(edge - 1, 0), (edge + 1, 0)]
        df = spark.createDataFrame(rows, "x long, y long")
        out = {r.x: r.z for r in df.select(
            "x", zorder_key([F.col("x"), F.col("y")], [0, 0],
                            [span - 1, 0], bits=bits).alias("z"))
            .collect()}

        def bucket(z):
            v = 0
            for b in range(bits):
                v |= ((z >> (2 * b)) & 1) << b
            return v
        assert bucket(out[edge - 1]) == ((edge - 1) * 65536) // span
        assert bucket(out[edge + 1]) == ((edge + 1) * 65536) // span

    def test_doc_frequency_duplicate_rows(self, spark):
        from beats_analytics import doc_frequency
        df = spark.createDataFrame(
            [Row(doc_id=1, text="a b"), Row(doc_id=1, text="a c")])
        out = {r.term: r.doc_freq for r in doc_frequency(df).collect()}
        assert out["a"] == 1

    def test_stratified_guards(self, spark):
        from beats_analytics import stratified_sample
        df = spark.createDataFrame([Row(g="a", k=1, rank_in_key=9)])
        with pytest.raises(ValueError, match="rank_in_key"):
            stratified_sample(df, "g", "k", 1)
        df2 = spark.createDataFrame([Row(g="a", k=1, sample_rank=9)])
        with pytest.raises(ValueError, match="sample_rank"):
            stratified_sample(df2, "g", "k", 1, keep_rank=True)

    def test_pagerank_scale_lower_guard(self, spark):
        edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
        with pytest.raises(ValueError, match="scale"):
            pagerank(edges, scale=0)


# ---------------------------------------------------------- triangles

def test_triangle_count_known_graphs(spark):
    from beats_analytics.graph import triangle_count

    def tc(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        return tuple(triangle_count(df).collect()[0])

    assert tc([(1, 2), (2, 3), (3, 1)]) == (3, 3, 1)
    # K4: every 3-subset closes
    assert tc([(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]) \
        == (4, 6, 4)
    # a 4-ring has no triangles
    assert tc([(1, 2), (2, 3), (3, 4), (4, 1)]) == (4, 4, 0)
    # duplicates, reversed direction and self-loops collapse
    assert tc([(1, 2), (2, 1), (1, 1), (2, 3), (3, 1), (3, 1)]) \
        == (3, 3, 1)


def test_triangle_orientation_bounds_hot_vertex_wedges(spark):
    """A star center (degree n) generates ZERO wedges under the
    degree orientation — every star edge points AWAY from the leaves
    toward the hot center, so the 10^12-wedge celebrity blowup the
    naive self-join suffers cannot happen."""
    from pyspark.sql import functions as F
    from beats_analytics.graph import triangle_count
    star = [(0, i) for i in range(1, 40)]
    df = spark.createDataFrame(star, "src long, dst long")
    assert tuple(triangle_count(df).collect()[0]) == (40, 39, 0)
    # reconstruct the oriented wedge frame and count rows: must be 0
    # (each leaf has degree 1 < center's 39, so center has no out-list)
    e = df.select(F.least("src", "dst").alias("a"),
                  F.greatest("src", "dst").alias("b")).distinct()
    deg = (e.select(F.col("a").alias("n"))
           .unionAll(e.select(F.col("b").alias("n")))
           .groupBy("n").count())
    withdeg = (e.join(deg.withColumnRenamed("n", "a")
                      .withColumnRenamed("count", "da"), "a")
               .join(deg.withColumnRenamed("n", "b")
                     .withColumnRenamed("count", "db"), "b"))
    a_first = (F.col("da") < F.col("db")) | \
              ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    lo = F.when(a_first, F.col("a")).otherwise(F.col("b"))
    assert withdeg.filter(lo == 0).count() == 0  # center has no out-list


# ----------------------------------------------------- transitions

def test_event_transitions_hand_case_and_tiebreak(spark):
    import datetime as dt
    from beats_analytics.events import event_transitions
    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        (1, ts(0), 10, "a"), (1, ts(1), 11, "b"), (1, ts(2), 12, "a"),
        # equal timestamps: event_id tie-break decides the order
        (2, ts(0), 20, "a"), (2, ts(0), 21, "b"),
        (3, ts(5), 30, "c"),  # lone event: no successor, no row
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, "
              "event_type string")
    got = {(r.prev_type, r.next_type): (r.n, r.p_micro)
           for r in event_transitions(df).collect()}
    # from 'a': a->b twice (u1 then u2), no a->a
    assert got[("a", "b")] == (2, 1_000_000)
    assert got[("b", "a")] == (1, 1_000_000)
    assert ("c", None) not in got and len(got) == 2
    # flipping the tie-break ids flips the equal-ts transition
    rows2 = [(2, ts(0), 21, "a"), (2, ts(0), 20, "b")]
    df2 = spark.createDataFrame(
        rows2, "user_id long, ts timestamp, event_id long, "
               "event_type string")
    got2 = {(r.prev_type, r.next_type)
            for r in event_transitions(df2).collect()}
    assert got2 == {("b", "a")}


def test_pivot_daily_dense_zeros_and_single_distinct_free_plan(
        spark, sf_dir):
    """The explicit pivot value list must keep the plan free of the
    values-discovery job (no extra collect) and absent cells read 0,
    not NULL."""
    from beats_spark.queries import QUERIES
    out = QUERIES["pivot_daily"](spark, sf_dir)
    rows = out.collect()
    assert rows
    for r in rows:
        for c in out.columns[1:]:
            assert r[c] is not None  # dense matrix
    # one scan, one agg exchange: pivot with explicit values compiles
    # to conditional aggregation, no distinct-values subjob
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])  # AQE prints both
    assert plan.count("Scan parquet") == 1


def test_ewma_smooth_known_values(spark):
    from datetime import datetime
    from beats_analytics.events import ewma_smooth

    rows = [("a", i, datetime(2024, 1, 1, 0, i), x)
            for i, x in enumerate([10, 20, 10, 100])]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, x long")
    out = ewma_smooth(df, key_col="user_id", ts_col="ts", x_col="x")
    got = [(r["ewma_milli"], r["spike"])
           for r in out.orderBy("event_id").collect()]
    # s1 = 10*1000; s2 = (2*20000 + 8*10000)//10; s3 = (2*10000+8*12000)//10
    # x=100 row: 100000*10 > 25*11600 -> spike; s4 = (200000+92800)//10
    assert got == [(10000, False), (12000, False),
                   (11600, False), (29280, True)]
    # arrival keyed by event time, not input order: shuffle the input
    sh = spark.createDataFrame(
        list(reversed(rows)),
        "user_id string, event_id long, ts timestamp, x long")
    got2 = [(r["ewma_milli"], r["spike"])
            for r in ewma_smooth(sh, key_col="user_id", ts_col="ts",
                                 x_col="x").orderBy("event_id").collect()]
    assert got2 == got


def test_mad_outliers_known_values_and_masking(spark):
    """Hand-checked median/MAD flags, including the case a z-test
    masks: one huge value inflates mean+stddev enough to hide itself,
    while the median/MAD test still flags it."""
    from beats_analytics.templates import mad_outliers
    xs = [10, 11, 9, 10, 12, 10, 11, 1000]
    df = spark.createDataFrame(
        [(i, "k", v) for i, v in enumerate(xs)], ["id", "k", "x"])
    out = {r["id"]: (r["med2"], r["mad_q2"], r["is_outlier"])
           for r in mad_outliers(df, "k", "x", z=3).collect()}
    # median of [9,10,10,10,11,11,12,1000] = 10.5 -> med2 = 21
    # q = |2x-21| = [1,1,3,1,3,1,1,1979]; median(q) = 1 -> mad_q2 = 2
    # flag: 2*q*10000 > 3*14826*2 = 88956  <=>  q > 4.447  -> only 1979
    assert out[7] == (21, 2, True)
    assert all(v == (21, 2, False) for i, v in out.items() if i != 7)
    # zero-MAD group: any deviation flags, identical values do not
    df2 = spark.createDataFrame(
        [(0, "g", 5), (1, "g", 5), (2, "g", 5), (3, "g", 6)],
        ["id", "k", "x"])
    out2 = {r["id"]: r["is_outlier"]
            for r in mad_outliers(df2, "k", "x").collect()}
    assert out2 == {0: False, 1: False, 2: False, 3: True}


def test_merge_intervals_known_values(spark):
    from beats_analytics.events import merge_intervals
    rows = [
        ("a", 0, 10), ("a", 5, 8),      # contained: long swallows short
        ("a", 10, 12),                  # touching (start == max end): merges
        ("a", 20, 25),                  # gap: new run
        ("a", 21, 30),
        ("b", 0, 1), ("b", 2, 3),       # disjoint runs on another key
    ]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    got = sorted((r["k"], r["s"], r["e"], r["n_merged"]) for r in
                 merge_intervals(df, "k", "s", "e").collect())
    assert got == [("a", 0, 12, 3), ("a", 20, 30, 2),
                   ("b", 0, 1, 1), ("b", 2, 3, 1)]
    # single exchange: both windows + the rollup share the key
    plan = merge_intervals(df, "k", "s", "e") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_hits_known_values_hub_authority_split(spark):
    """Star graph: one directory node links to three pages, one page
    links back to one. Replay the integer recurrence by hand."""
    from beats_analytics.graph import hits
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (3, 0)],
        "src long, dst long")
    out = {r["node"]: (r["hub_micro"], r["auth_micro"])
           for r in hits(edges, iters=2).collect()}

    S = 1_000_000
    e = [(0, 1), (0, 2), (0, 3), (1, 2), (3, 0)]
    nodes = sorted({x for p in e for x in p})
    hub = {n: S for n in nodes}
    for _ in range(2):
        raw_a = {n: sum(hub[s] for s, d in e if d == n) for n in nodes}
        mx = max(raw_a.values())
        auth = {n: (raw_a[n] * S) // mx for n in nodes}
        raw_h = {n: sum(auth[d] for s, d in e if s == n)
                 for n in nodes}
        mx = max(raw_h.values())
        hub = {n: (raw_h[n] * S) // mx for n in nodes}
    assert out == {n: (hub[n], auth[n]) for n in nodes}
    # the directory is the top hub; page 2 (two inlinks) top authority
    assert max(out, key=lambda n: out[n][0]) == 0
    assert max(out, key=lambda n: out[n][1]) == 2
    # no in-edges -> zero authority is impossible here (3->0), but
    # node 2 has no out-edges -> zero hub
    assert out[2][0] == 0


def test_hits_guards(spark):
    import pytest
    from beats_analytics.graph import hits
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        hits(e, iters=0)
    with pytest.raises(ValueError):
        hits(e, scale=0)


def test_decayed_counts_bucket_weights_and_clamps(spark):
    from pyspark.sql import functions as F
    from beats_analytics.events import decayed_counts
    rows = [
        ("k", "2024-01-31 00:00:00"),   # age 0       -> 1000000
        ("k", "2024-01-30 00:00:00"),   # exactly 1hl -> 500000
        ("k", "2024-01-30 00:00:01"),   # just under  -> 1000000
        ("k", "2024-01-28 12:00:00"),   # 2.5 hl      -> 250000
        ("k", "2024-02-05 00:00:00"),   # future      -> clamp 1000000
        ("z", "2020-01-01 00:00:00"),   # >40 hl      -> 0
    ]
    df = spark.createDataFrame(rows, "k string, ts string") \
        .select("k", F.col("ts").cast("timestamp").alias("ts"))
    out = {r["k"]: r for r in
           decayed_counts(df, "k", "ts",
                          now="2024-01-31 00:00:00").collect()}
    assert out["k"]["score_micro"] == (1000000 + 500000 + 1000000
                                       + 250000 + 1000000)
    assert out["k"]["n_events"] == 5
    assert out["z"]["score_micro"] == 0


def test_seasonal_anomaly_flags_same_hour_baseline(spark):
    from pyspark.sql import functions as F
    from beats_analytics.events import seasonal_anomaly
    rows = []
    # 5 quiet days at 03:00 with 2 events, then a spike day with 10
    for d in range(1, 6):
        rows += [("a", f"2024-01-0{d} 03:00:00")] * 2
    rows += [("a", "2024-01-06 03:00:00")] * 10
    # noon is ALWAYS busy (10/day): never a spike vs its own baseline
    for d in range(1, 7):
        rows += [("a", f"2024-01-0{d} 12:00:00")] * 10
    df = spark.createDataFrame(rows, "k string, ts string") \
        .select("k", F.col("ts").cast("timestamp").alias("ts"))
    out = seasonal_anomaly(df, "k", "ts").collect()
    spikes = {(str(r["day"]), r["hour"]) for r in out if r["is_spike"]}
    assert spikes == {("2024-01-06", 3)}


def test_slo_burn_known_rates_and_gap_safe_horizon(spark):
    from pyspark.sql import functions as F
    from beats_analytics.events import slo_burn
    rows = []
    # hour 0: 10 events, 1 error -> burn 10x budget (1%)
    rows += [("2024-01-01 00:00:30", e < 1) for e in range(10)]
    # hour 1: 10 events, 0 errors
    rows += [("2024-01-01 01:00:30", False) for _ in range(10)]
    # hour 9 (calendar GAP): 10 events, 2 errors — horizon 2 must NOT
    # see hour 1 across the gap (RANGE frame, not ROWS)
    rows += [("2024-01-01 09:00:30", e < 2) for e in range(10)]
    df = spark.createDataFrame(rows, "ts string, err boolean") \
        .select(F.col("ts").cast("timestamp").alias("ts"), "err")
    out = {str(r["bucket_start"]): r for r in
           slo_burn(df, "ts", "err", bucket_s=3600,
                    budget=(1, 100), horizon=2).collect()}
    h0 = out["2024-01-01 00:00:00"]
    assert h0["burn_micro"] == 10_000_000          # 10x budget
    assert h0["rolling_burn_micro"] == 10_000_000
    h1 = out["2024-01-01 01:00:00"]
    assert h1["burn_micro"] == 0
    assert h1["rolling_burn_micro"] == 5_000_000   # (1/20)/0.01
    h9 = out["2024-01-01 09:00:00"]
    assert h9["rolling_burn_micro"] == 20_000_000  # gap: alone


def test_rolling_quantile_nearest_rank_and_frame(spark):
    from pyspark.sql import functions as F
    from beats_analytics.events import rolling_quantile
    rows = [("k", i, f"2024-01-01 00:{i:02d}:00", v)
            for i, v in enumerate([10, 20, 30, 40, 50])]
    df = spark.createDataFrame(
        rows, "k string, id long, ts string, x long") \
        .select("k", "id", F.col("ts").cast("timestamp").alias("ts"),
                "x")
    out = {r["id"]: r["q_value"] for r in
           rolling_quantile(df, "k", "ts", "x", frame_rows=3,
                            q_pct=50, tie_cols=["id"]).collect()}
    # frames: [10] [10,20] [10,20,30] [20,30,40] [30,40,50]
    # nearest-rank median = ceil(n/2)-th smallest
    assert out == {0: 10, 1: 10, 2: 20, 3: 30, 4: 40}


def test_label_propagation_two_cliques_and_determinism(spark):
    """Two 3-cliques joined by one bridge edge: LPA should settle
    each clique on its own minimum label; replay the deterministic
    recurrence by hand for the bridge nodes."""
    from beats_analytics.graph import label_propagation
    edges = [(0, 1), (0, 2), (1, 2),        # clique A
             (10, 11), (10, 12), (11, 12),  # clique B
             (2, 10)]                       # bridge
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["community"] for r in
           label_propagation(df, iters=4).collect()}
    # clique A all settle on 0; clique B on 10 pulls from the bridge
    assert out[0] == out[1] == out[2] == 0
    assert out[11] == out[12]
    # rerun is identical (replay-exact, no randomness)
    out2 = {r["node"]: r["community"] for r in
            label_propagation(df, iters=4).collect()}
    assert out == out2


def test_winsorize_clips_and_preserves_interior(spark):
    from pyspark.sql import functions as F
    from beats_analytics.events import winsorize

    vals = list(range(1, 100)) + [10_000]   # one wild outlier
    df = spark.createDataFrame([(i, float(v)) for i, v in
                                enumerate(vals)], "id long, value double")
    w = winsorize(df, "value", p_lo=0.05, p_hi=0.95, keep_bounds=True)
    rows = {r["id"]: r for r in w.collect()}
    # the outlier clipped down to the p95 threshold
    out = rows[99]
    assert out["clip_hi"] is True and out["value_w"] == out["hi"]
    assert out["value_w"] < 10_000
    # interior values untouched
    mid = rows[49]
    assert mid["clip_lo"] is False and mid["clip_hi"] is False
    assert mid["value_w"] == 50.0
    # counts match the percentile definition's tails
    n_hi = sum(1 for r in rows.values() if r["clip_hi"])
    n_lo = sum(1 for r in rows.values() if r["clip_lo"])
    assert 1 <= n_hi <= 5 and 1 <= n_lo <= 5


def test_winsorize_per_group_bounds_differ(spark):
    from beats_analytics.events import winsorize

    rows = ([(i, "a", float(i % 10)) for i in range(100)]
            + [(200 + i, "b", 100.0 + i % 10) for i in range(100)])
    df = spark.createDataFrame(rows, "id long, g string, value double")
    w = winsorize(df, "value", by="g", keep_bounds=True)
    bounds = {r["g"]: (r["lo"], r["hi"])
              for r in w.select("g", "lo", "hi").distinct().collect()}
    assert bounds["a"][1] < bounds["b"][0]   # groups got own thresholds


def test_trustrank_spam_mass_hand_case(spark):
    """Trust flows only out of the seed set: an isolated mutual-link
    farm earns PageRank (teleport base + self-reinforcement) but zero
    TrustRank, so its spam mass is exactly 1.0."""
    from beats_analytics.graph import pagerank, spam_mass, trustrank

    #  seed 1 -> 2 -> 3 ; farm 5 <-> 6 (unreachable from 1)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 5)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    pr = pagerank(edges, iters=3)
    tr = trustrank(edges, seeds, iters=3)
    sm = {r["node"]: r for r in spam_mass(pr, tr).collect()}
    # farm nodes: rank > 0 (teleport + mutual links), trust == 0
    assert sm[5]["rank_micro"] > 0 and sm[5]["trust_micro"] == 0
    assert sm[5]["spam_mass_micro"] == 1_000_000
    assert sm[6]["spam_mass_micro"] == 1_000_000
    # trusted chain: node 2 and 3 hold trust, mass < 1
    assert sm[2]["trust_micro"] > 0
    assert sm[2]["spam_mass_micro"] < 1_000_000
    assert sm[3]["trust_micro"] > 0
    # the seed itself: no in-links, all rank is teleport; trust base
    # is the full seed share so mass is low
    assert sm[1]["trust_micro"] > sm[1]["rank_micro"]
    assert sm[1]["spam_mass_micro"] == 0


def test_resolve_pointers_chains_cycles_and_cap(spark):
    """Pointer doubling: exact hop counts on a known chain, cycle rows
    come back resolved=False at the 2^rounds cap, duplicate sources
    dedup to min(dst), and a chain longer than the cap stays
    unresolved at exactly cap hops."""
    from beats_analytics.graph import resolve_pointers
    # chain 5->4->3->2->1->0 (0 terminal), cycle 10<->11, dup src 20
    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (1, 0),
         (10, 11), (11, 10),
         (20, 7), (20, 9)],
        "src long, dst long")
    out = {r["src"]: r for r in
           resolve_pointers(edges, rounds=4).collect()}
    assert (out[5]["final"], out[5]["hops"], out[5]["resolved"]) \
        == (0, 5, True)
    assert (out[2]["final"], out[2]["hops"], out[2]["resolved"]) \
        == (0, 2, True)
    assert out[10]["resolved"] is False and out[10]["hops"] == 16
    assert out[10]["final"] in (10, 11)
    # dup src: min(dst)=7 wins; 7 is terminal
    assert (out[20]["final"], out[20]["hops"], out[20]["resolved"]) \
        == (7, 1, True)

    # chain of 40 with rounds=5 (cap 32): unresolved at exactly 32 hops
    chain = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 41)], "src long, dst long")
    got = {r["src"]: r for r in
           resolve_pointers(chain, rounds=5).collect()}
    assert got[40]["resolved"] is False and got[40]["hops"] == 32
    assert got[40]["final"] == 8  # 40 - 32
    assert got[30]["resolved"] is True and got[30]["hops"] == 30


def test_bot_cadence_metronome_vs_bursty(spark):
    """A perfectly regular key flags as bot (spread 0); a bursty key
    does not; below min_gaps never flags; zero-median with nonzero
    spread doesn't crash or flag."""
    import datetime as dt
    from beats_analytics.events import bot_cadence
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(12):  # bot: exact 30s ticks
        rows.append((1, i, t0 + dt.timedelta(seconds=30 * i)))
    bursty = [0, 5, 6, 100, 101, 130, 400, 401, 402, 900, 1800, 1805]
    for i, s in enumerate(bursty):  # human: heavy-tailed gaps
        rows.append((2, i, t0 + dt.timedelta(seconds=s)))
    for i in range(5):  # too few events
        rows.append((3, i, t0 + dt.timedelta(seconds=30 * i)))
    # all events same instant: median gap 0
    for i in range(12):
        rows.append((4, i, t0))
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    got = {r["user_id"]: r for r in bot_cadence(df).collect()}
    assert got[1]["is_bot"] and got[1]["spread_ms"] == 0
    assert got[1]["median_gap_ms"] == 30_000
    assert not got[2]["is_bot"] and got[2]["cadence_micro"] > 100_000
    assert not got[3]["is_bot"] and got[3]["n_gaps"] == 4
    assert got[4]["is_bot"] and got[4]["median_gap_ms"] == 0


def test_kcore_hand_case_peels_recursively(spark):
    """A triangle (3-clique) plus a tail hanging off it: the 2-core is
    exactly the triangle — the tail peels in cascading rounds, which
    raw-degree filtering would get wrong (the first tail node starts
    at degree 2)."""
    from beats_analytics.graph import kcore
    # triangle 1-2-3; tail 3-4, 4-5 (node 4 has degree 2 initially!)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["src", "dst"])
    out = {r["node"]: r["degree"]
           for r in kcore(edges, k=2, rounds=4).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_idempotent_past_convergence_and_guards(spark):
    from beats_analytics.graph import kcore
    import pytest as _pt
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 3),
         (10, 11)], ["src", "dst"])
    a = sorted(map(tuple, kcore(edges, k=2, rounds=2).collect()))
    b = sorted(map(tuple, kcore(edges, k=2, rounds=6).collect()))
    assert a == b  # extra rounds past the fixed point are no-ops
    # k=1 keeps every non-isolated node; dedup/self-loop hygiene
    loops = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 2)], ["src", "dst"])
    assert sorted(map(tuple, kcore(loops, k=1, rounds=2).collect())) \
        == [(1, 1), (2, 1)]
    with _pt.raises(ValueError):
        kcore(edges, k=0)
    with _pt.raises(ValueError):
        kcore(edges, k=2, rounds=0)


def test_interval_join_known_pairs_and_left_outer(spark):
    import datetime as _dt
    from beats_analytics.events import interval_join
    t0 = _dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + _dt.timedelta(seconds=s)

    views = spark.createDataFrame(
        [(1, ts(0), "v1"), (1, ts(1000), "v2"), (2, ts(0), "v3")],
        "user_id long, ts timestamp, vid string")
    buys = spark.createDataFrame(
        [(1, ts(50), "b1"),    # in window of v1 only
         (1, ts(1100), "b2"),  # in window of v1 AND v2 (many-to-many)
         (2, ts(5000), "b3")], # outside v3's window
        "user_id long, ts timestamp, bid string")
    got = sorted((r["vid"], r["r_bid"]) for r in
                 interval_join(views, buys, "user_id",
                               within_seconds=1800).collect())
    assert got == [("v1", "b1"), ("v1", "b2"), ("v2", "b2")]
    # left outer keeps unmatched v3 with NULL payload
    lo = {r["vid"]: r["r_bid"] for r in
          interval_join(views, buys, "user_id", within_seconds=1800,
                        how="left").collect() if r["vid"] == "v3"}
    assert lo == {"v3": None}
    # boundary: exactly at left_ts + within is INCLUSIVE
    b_edge = spark.createDataFrame([(1, ts(1800), "be")],
                                   "user_id long, ts timestamp, bid string")
    edge = [(r["vid"], r["r_bid"]) for r in
            interval_join(views, b_edge, "user_id",
                          within_seconds=1800).collect()]
    assert ("v1", "be") in edge
    import pytest as _pt
    with _pt.raises(ValueError, match="how"):
        interval_join(views, buys, "user_id", how="outer")
    with _pt.raises(ValueError, match="already exist"):
        interval_join(views, views, "user_id", prefix="")


def test_km_survival_hand_computed(spark):
    """Product-limit estimate on a hand-worked cohort: events at t=1
    (2 of 5 at risk) and t=3 (1 of 2 at risk), censoring at t=2 and
    t=5; S = 3/5 then (3/5)·(1/2) with per-step integer rounding."""
    from beats_analytics.events import km_survival
    df = spark.createDataFrame(
        [("c", 1, True), ("c", 1, True), ("c", 2, False),
         ("c", 3, True), ("c", 5, False),
         # all-censored cohort produces no curve rows
         ("z", 4, False)],
        "cohort string, duration int, event boolean")
    rows = {(r["cohort"], r["duration"]):
            (r["n_risk"], r["d_events"], r["surv_micro"])
            for r in km_survival(df).collect()}
    assert rows[("c", 1)] == (5, 2, 600000)
    assert rows[("c", 3)] == (2, 1, 300000)
    assert len(rows) == 2
    # monotone non-increasing, and exact per-step floor: (600000*1)//2
    assert rows[("c", 3)][2] == (600000 * (2 - 1)) // 2


def test_cusum_alarms_hand_computed(spark):
    """Alarm + reset on a hand-worked drift: k=1, h=5 (micro scale
    1:1 for readability); values drift up by 3/step from t=4."""
    from beats_analytics.events import cusum_alarms
    vals = [0, 0, 0, 3, 3, 3, 3, -9, -9, -9]
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(vals)],
        "key string, seq int, x_micro long")
    out = cusum_alarms(df, key_col="key", order_col="seq",
                       value_col="x_micro", target_micro=0,
                       slack_micro=1, threshold_micro=5)
    rows = [(r["seq"], r["direction"], r["stat_micro"])
            for r in out.orderBy("seq").collect()]
    # S+ : t3 +2, t4 +2 (4), t5 +2 (6 > 5 -> ALARM, reset)
    # after reset: t6 +2 (2), t7: S+ max(0,2-10)=0, S- grows:
    # t7 (-9): S- = max(0, 0 +9 -1) = 8 > 5 -> ALARM down, reset
    # t8: S- = 8 again -> ALARM, t9 same
    assert rows == [(5, "up", 6), (7, "down", 8),
                    (8, "down", 8), (9, "down", 8)]
    # monotone drift below slack never alarms
    quiet = spark.createDataFrame(
        [("k", i, 1) for i in range(20)],
        "key string, seq int, x_micro long")
    assert cusum_alarms(quiet, key_col="key", order_col="seq",
                        value_col="x_micro", slack_micro=1,
                        threshold_micro=5).count() == 0
    import pytest
    with pytest.raises(ValueError, match="slack_micro"):
        cusum_alarms(df, key_col="key", order_col="seq",
                     value_col="x_micro", threshold_micro=0)


def test_position_attribution_credit_spec(spark):
    """Hand-worked U-shape: 4 touches -> 400k/100k+/100k/400k with the
    remainder rule; credits per conversion sum to exactly 1e6."""
    from beats_analytics.events import position_attribution
    rows = [
        # user 1: touches c1,c2,c3,c4 then converts
        (1, 1, "c1", False), (1, 2, "c2", False), (1, 3, "c3", False),
        (1, 4, "c4", False), (1, 5, "x", True),
        # user 2: single touch
        (2, 1, "c1", False), (2, 2, "x", True),
        # user 3: two touches
        (3, 1, "c2", False), (3, 2, "c3", False), (3, 3, "x", True),
        # user 4: never converts -> contributes nothing
        (4, 1, "c1", False),
        # user 5: converts with NO prior touches -> nothing
        (5, 1, "x", True),
    ]
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        rows, "user_id bigint, seq int, channel string, converted boolean"
    ).withColumn("ts", F.timestamp_seconds(F.col("seq") * 60)) \
     .withColumn("event_id", F.col("seq").cast("long"))
    out = {r["channel"]: (r["touches"], r["credit_micro"])
           for r in position_attribution(df).collect()}
    # m=4: interior base 200000 DIV 2 = 100000, rem 0
    # c1: u1 first (400000) + u2 single (1000000) = 1400000, 2 touches
    assert out["c1"] == (2, 1_400_000)
    # c2: u1 interior (100000) + u3 first-of-two (500000)
    assert out["c2"] == (2, 600_000)
    # c3: u1 interior (100000) + u3 last-of-two (500000)
    assert out["c3"] == (2, 600_000)
    # c4: u1 last (400000)
    assert out["c4"] == (1, 400_000)
    assert "x" not in out            # the conversion itself, not a touch
    # total credit = 1e6 per converting-with-touches user (3 of them)
    assert sum(v[1] for v in out.values()) == 3_000_000
    # remainder rule: m=5 -> interior base 66666 rem 2: earliest two
    # interiors get +1
    rows5 = [(9, i, f"k{i}", False) for i in range(1, 6)] \
        + [(9, 6, "x", True)]
    df5 = spark.createDataFrame(
        rows5, "user_id bigint, seq int, channel string, converted boolean"
    ).withColumn("ts", F.timestamp_seconds(F.col("seq") * 60)) \
     .withColumn("event_id", F.col("seq").cast("long"))
    o5 = {r["channel"]: r["credit_micro"]
          for r in position_attribution(df5).collect()}
    assert o5 == {"k1": 400000, "k2": 66667, "k3": 66667,
                  "k4": 66666, "k5": 400000}


# --------------------------------------------------- telemetry trio

def test_counter_rates_reset_and_rate(spark):
    from pyspark.sql import functions as F
    from beats_analytics.events import counter_rates
    df = spark.createDataFrame(
        [("h", "2024-01-01 00:00:00", 100),
         ("h", "2024-01-01 00:00:10", 160),   # +60 over 10 s -> 6/s
         ("h", "2024-01-01 00:00:20", 40),    # reset: delta = 40
         ("g", "2024-01-01 00:00:00", 5)],    # single sample -> no row
        "host string, ts string, ctr long") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    rows = {(r["host"], str(r["ts"])): r
            for r in counter_rates(df, "host", "ts", "ctr").collect()}
    assert len(rows) == 2
    r1 = rows[("h", "2024-01-01 00:00:10")]
    assert (r1["delta"], r1["was_reset"]) == (60, False)
    assert r1["rate_micro"] == 6_000_000
    r2 = rows[("h", "2024-01-01 00:00:20")]
    assert (r2["delta"], r2["was_reset"]) == (40, True)
    assert r2["rate_micro"] == 4_000_000
    # duplicate timestamp -> dt 0 -> NULL rate, not a crash
    dup = spark.createDataFrame(
        [("h", "2024-01-01 00:00:00", 1),
         ("h", "2024-01-01 00:00:00", 3)],
        "host string, ts string, ctr long") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = counter_rates(dup, "host", "ts", "ctr").collect()
    assert len(out) == 1 and out[0]["dt_us"] == 0
    assert out[0]["rate_micro"] is None


def test_trend_slope_known_values(spark):
    from beats_analytics.events import trend_slope
    df = spark.createDataFrame(
        # perfect line y = 3x + 1 -> slope 3.0
        [("up", 0, 1), ("up", 1, 4), ("up", 2, 7),
         # perfect negative line y = -2x -> slope -2.0
         ("down", 0, 0), ("down", 1, -2), ("down", 2, -4),
         # single x -> NULL
         ("flat", 5, 9)],
        "k string, x long, y long")
    out = {r["k"]: r["slope_micro"]
           for r in trend_slope(df, "k", "x", "y").collect()}
    assert out == {"up": 3_000_000, "down": -2_000_000, "flat": None}
    # non-integral slope truncates toward zero on both engines:
    # points (0,0),(1,1),(2,1): slope = 1/2 -> 500000
    frac = spark.createDataFrame(
        [("f", 0, 0), ("f", 1, 1), ("f", 2, 1)],
        "k string, x long, y long")
    assert trend_slope(frac, "k", "x", "y").collect()[0][
        "slope_micro"] == 500_000


def test_apdex_known_values_and_validation(spark):
    import pytest
    from beats_analytics.events import apdex
    df = spark.createDataFrame(
        # T=100: sat 100, tol 150/400, frustrated 401
        [("svc", 100), ("svc", 150), ("svc", 400), ("svc", 401)],
        "k string, lat long")
    r = apdex(df, "k", "lat", 100).collect()[0]
    assert (r["n"], r["satisfied"], r["tolerating"]) == (4, 1, 2)
    # (2*1 + 2) * 1e6 // 8 = 500000
    assert r["apdex_micro"] == 500_000
    with pytest.raises(ValueError, match="threshold_micro"):
        apdex(df, "k", "lat", 0)


def test_fano_burstiness_known_values(spark):
    import pytest
    from pyspark.sql import functions as F
    from beats_analytics.events import fano_burstiness
    rows = (
        # "steady": 1 event per bucket x4 -> variance 0 -> fano 0
        [("steady", f"2024-01-01 00:{m:02d}:30") for m in range(4)]
        # "burst": 4 events in one bucket, span 4 buckets
        # counts [4,0,0,0]: mean 1, var 3 -> fano 3.0
        + [("burst", "2024-01-01 00:00:01"),
           ("burst", "2024-01-01 00:00:02"),
           ("burst", "2024-01-01 00:00:03"),
           ("burst", "2024-01-01 00:00:04"),
           ("burst", "2024-01-01 00:03:30")])
    # give "burst" a 5th event in bucket 3 so counts are [4,0,0,1]:
    # n=5, m=4, cc=17 -> (4*17-25)*1e6 // (4*5) = 2150000
    df = spark.createDataFrame(rows, "k string, ts string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["k"]: r for r in
           fano_burstiness(df, "k", "ts", bucket_s=60).collect()}
    assert out["steady"]["fano_micro"] == 0
    assert (out["steady"]["n"], out["steady"]["m_buckets"]) == (4, 4)
    assert (out["burst"]["n"], out["burst"]["m_buckets"]) == (5, 4)
    assert out["burst"]["fano_micro"] == 2_150_000
    with pytest.raises(ValueError, match="bucket_s"):
        fano_burstiness(df, "k", "ts", bucket_s=0)


def test_holt_smooth_known_values_and_negative_trend(spark):
    from pyspark.sql import functions as F
    from beats_analytics.events import holt_smooth
    # decreasing series drives the trend negative; replicate the
    # recurrence with explicit truncation in plain python
    xs = [100, 80, 60, 40, 20]
    df = spark.createDataFrame(
        [("k", f"2024-01-01 00:00:{i:02d}", i, x)
         for i, x in enumerate(xs)],
        "k string, ts string, event_id long, x long") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["event_id"]: (r["level_milli"], r["trend_milli"])
           for r in holt_smooth(df, "k", "ts", "x").collect()}

    def tdiv(a, d):
        q = a // d
        if q < 0 and q * d != a:
            q += 1
        return q

    lv = tr = None
    for i, x in enumerate(xs):
        xv = x * 1000
        if lv is None:
            lv, tr = xv, 0
        else:
            prev = lv
            lv = tdiv(2 * xv + 8 * (lv + tr), 10)
            tr = tdiv(1 * (lv - prev) + 9 * tr, 10)
        assert out[i] == (lv, tr), (i, out[i], (lv, tr))
    assert tr < 0          # the point of the tdiv discipline


def test_weighted_percentiles_known_values(spark):
    import pytest
    from beats_analytics.events import weighted_percentiles
    # one heavy row dominates: values 1..4, weights 1,1,1,97
    df = spark.createDataFrame(
        [("k", 1, 1), ("k", 2, 1), ("k", 3, 1), ("k", 4, 97)],
        "k string, v long, w long")
    out = {r["q_micro"]: r for r in weighted_percentiles(
        df, "k", "v", "w", quantiles=(0.01, 0.03, 0.04, 0.5, 1.0))
        .collect()}
    # need(q) = ceil(q*100): 1->v1, 3->v3, 4->v4, 50->v4, 100->v4
    assert out[10_000]["value"] == 1
    assert out[30_000]["value"] == 3
    assert out[40_000]["value"] == 4
    assert out[500_000]["value"] == 4
    assert out[1_000_000]["value"] == 4
    assert out[500_000]["total_weight"] == 100
    assert out[500_000]["n"] == 4
    # unweighted degenerate case (all weights 1) = classic lower
    # quantile: median of [1,2,3,4] at q=0.5 -> ceil(2)=rank 2 -> 2
    uw = spark.createDataFrame(
        [("k", i, 1) for i in (1, 2, 3, 4)], "k string, v long, w long")
    assert weighted_percentiles(uw, "k", "v", "w", (0.5,)) \
        .collect()[0]["value"] == 2
    with pytest.raises(ValueError, match="q must be"):
        weighted_percentiles(df, "k", "v", "w", (1.5,))
    with pytest.raises(ValueError, match="at least one"):
        weighted_percentiles(df, "k", "v", "w", ())


def test_sequence_gaps_identity_and_dups(spark):
    from beats_analytics.events import sequence_gaps
    df = spark.createDataFrame(
        # key a: 1,2,5,5,9 -> gaps (3,4) and (6,7,8): missing 5,
        # 2 gap intervals, 1 dup
        [("a", 1), ("a", 2), ("a", 5), ("a", 5), ("a", 9),
         # key b: contiguous
         ("b", 10), ("b", 11), ("b", 12)],
        "k string, rec long")
    out = {r["k"]: r for r in sequence_gaps(df, "k", "rec").collect()}
    a = out["a"]
    assert (a["n"], a["first_seq"], a["last_seq"]) == (5, 1, 9)
    assert (a["n_missing"], a["n_dups"], a["n_gaps"]) == (5, 1, 2)
    # audit identity for dup-free keys: n + missing = span
    b = out["b"]
    assert b["n_missing"] == 0 and b["n_dups"] == 0
    assert b["n"] + b["n_missing"] == b["last_seq"] - b["first_seq"] + 1


def test_gapfill_series_zeros_and_dup_guard(spark):
    import pytest
    from beats_analytics.events import gapfill_series
    df = spark.createDataFrame(
        [("k", 10, 5), ("k", 13, 7), ("q", 1, 1)],
        "k string, b long, v long")
    out = {(r["k"], r["b"]): (r["v"], r["is_filled"])
           for r in gapfill_series(df, "k", "b", "v").collect()}
    assert out[("k", 10)] == (5, False)
    assert out[("k", 11)] == (0, True)
    assert out[("k", 12)] == (0, True)
    assert out[("k", 13)] == (7, False)
    assert out[("q", 1)] == (1, False)
    assert len(out) == 5
    dup = spark.createDataFrame(
        [("k", 1, 1), ("k", 1, 2)], "k string, b long, v long")
    with pytest.raises(Exception, match="duplicate"):
        gapfill_series(dup, "k", "b", "v").collect()
    with pytest.raises(ValueError, match="step"):
        gapfill_series(df, "k", "b", "v", step=0)


def test_rolling_active_users_known_values(spark):
    import pytest
    from pyspark.sql import functions as F
    from beats_analytics.events import rolling_active_users
    # users on days: u1 on d0 and d3; u2 on d0; day range clips at d3
    rows = [("u1", 0), ("u2", 0), ("u1", 3), ("u1", 3)]
    df = spark.createDataFrame(rows, "u string, d long").select(
        "u", F.timestamp_micros(F.col("d") * 86_400_000_000)
        .alias("ts"))
    out = {r["day"]: r["n_active"]
           for r in rolling_active_users(df, "u", "ts",
                                         window_days=3).collect()}
    # d0: {u1,u2}=2; d1: trailing {d0}: 2; d2: {d0}: 2
    # d3: trailing days {1,2,3} -> only d3's u1 -> 1
    assert out == {0: 2, 1: 2, 2: 2, 3: 1}
    with pytest.raises(ValueError, match="window_days"):
        rolling_active_users(df, "u", "ts", window_days=0)


def test_metric_correlation_known_values(spark):
    from beats_analytics.events import metric_correlation
    rows = []
    for t in range(6):
        rows.append((t, "up", t))           # x = t
        rows.append((t, "double", 2 * t))   # y = 2t: r = +1
        rows.append((t, "down", 10 - t))    # r = -1 vs up
        rows.append((t, "flat", 7))         # constant -> NULL r2
    df = spark.createDataFrame(rows, "b long, m string, v long")
    out = {(r["metric_a"], r["metric_b"]): r
           for r in metric_correlation(df, "b", "m", "v").collect()}
    r = out[("double", "up")]
    assert (r["r2_micro"], r["sign"], r["n"]) == (1_000_000, 1, 6)
    r = out[("down", "up")]
    assert (r["r2_micro"], r["sign"]) == (1_000_000, -1)
    r = out[("flat", "up")]
    assert r["r2_micro"] is None and r["sign"] == 0
    assert len(out) == 6    # all unordered pairs of 4 metrics
