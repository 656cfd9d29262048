"""beats_analytics.layout: Morton key correctness and the actual file-skipping
property (parquet footer min/max tightness) it exists for."""

import pytest
from pyspark.sql import Row, functions as F

from beats_analytics import cluster_by_zorder, zorder_key


class TestZorderKey:
    def test_known_interleave(self, spark):
        # 2 bits, identity ranges [0,3]: key = interleave(x, y)
        df = spark.createDataFrame(
            [Row(x=x, y=y) for x in range(4) for y in range(4)])
        out = df.withColumn("z", zorder_key(
            [F.col("x"), F.col("y")], [0, 0], [3, 3], bits=2))
        got = {(r.x, r.y): r.z for r in out.collect()}

        def morton(x, y):
            z = 0
            for b in range(2):
                z |= ((x >> b) & 1) << (2 * b)
                z |= ((y >> b) & 1) << (2 * b + 1)
            return z
        assert got == {(x, y): morton(x, y)
                       for x in range(4) for y in range(4)}
        # the defining property: z-order visits quadrants before cells
        assert got[(0, 0)] == 0 and got[(3, 3)] == 15
        assert got[(1, 1)] == 3   # first quadrant fills first

    def test_out_of_range_clamps_both_edges(self, spark):
        df = spark.createDataFrame([Row(x=-5, y=99), Row(x=0, y=3)])
        out = {(r.x, r.y): r.z for r in df.withColumn(
            "z", zorder_key([F.col("x"), F.col("y")],
                            [0, 0], [3, 3], bits=2)).collect()}
        assert out[(-5, 99)] == out[(0, 3)]  # clamped to the edges

    def test_guards(self, spark):
        with pytest.raises(ValueError, match="at least 2"):
            zorder_key([F.col("x")], [0], [3])
        with pytest.raises(ValueError, match="overflows"):
            zorder_key([F.col("x"), F.col("y")], [0, 0], [1, 1],
                       bits=32)
        with pytest.raises(ValueError, match="hi < lo"):
            zorder_key([F.col("x"), F.col("y")], [0, 5], [3, 1])


class TestClusterByZorder:
    def test_files_cover_tight_rectangles(self, spark, tmp_path):
        """The point of the layout: with z-order clustering, per-file
        min/max ranges are tight for BOTH columns, so a filter on
        EITHER dimension can skip most files; a single-column sort
        only achieves this for its own column."""
        import pyarrow.parquet as pq
        import glob
        n, side = 4096, 64
        df = spark.range(n).select(
            (F.col("id") % side).alias("x"),
            (F.col("id") / side).cast("long").alias("y"))

        def spans(path, col):
            tot = 0.0
            for f in glob.glob(path + "/part-*.parquet"):
                md = pq.read_metadata(f)
                mn = min(md.row_group(i).column(
                    {"x": 0, "y": 1}[col]).statistics.min
                    for i in range(md.num_row_groups))
                mx = max(md.row_group(i).column(
                    {"x": 0, "y": 1}[col]).statistics.max
                    for i in range(md.num_row_groups))
                tot += (mx - mn + 1) / side
            nf = len(glob.glob(path + "/part-*.parquet"))
            return tot / nf  # mean fraction of the domain per file

        zpath = str(tmp_path / "z")
        cluster_by_zorder(df, ["x", "y"], [0, 0],
                          [side - 1, side - 1], bits=6, n_files=16) \
            .write.parquet(zpath)
        spath = str(tmp_path / "s")
        df.repartitionByRange(16, "x").sortWithinPartitions("x") \
            .write.parquet(spath)

        # single-column sort: x is tight but y spans ~everything
        assert spans(spath, "x") < 0.2
        assert spans(spath, "y") > 0.8
        # z-order: BOTH dimensions tight per file
        assert spans(zpath, "x") < 0.5
        assert spans(zpath, "y") < 0.5

    def test_rows_preserved_and_key_dropped(self, spark):
        df = spark.createDataFrame(
            [Row(x=i % 10, y=i // 10) for i in range(100)])
        out = cluster_by_zorder(df, ["x", "y"], [0, 0], [9, 9],
                                bits=4, n_files=4)
        assert out.columns == ["x", "y"]
        assert out.count() == 100
        kept = cluster_by_zorder(df, ["x", "y"], [0, 0], [9, 9],
                                 bits=4, n_files=4, keep_key=True)
        assert "zorder_key" in kept.columns


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        """Two tables bucketed on the same key join WITHOUT shuffling
        either side — the write-once/join-many layout for fact-fact
        joins; an unbucketed control join plans Exchanges."""
        from beats_analytics import write_bucketed
        # spark.sql.warehouse.dir is static — managed tables land in
        # ./spark-warehouse and are DROPped (files removed) in finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            a = spark.range(2000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
            b = spark.range(2000).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
            write_bucketed(a, "t_buck_a", "k", n_buckets=8)
            write_bucketed(b, "t_buck_b", "k", n_buckets=8)
            j = spark.table("t_buck_a").join(
                spark.table("t_buck_b"), "k")
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
            assert j.count() == 2000

            ctrl = a.join(b, "k")
            cplan = ctrl._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" in cplan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           "10485760")
            spark.sql("DROP TABLE IF EXISTS t_buck_a")
            spark.sql("DROP TABLE IF EXISTS t_buck_b")

    def test_guard(self, spark):
        from beats_analytics import write_bucketed
        with pytest.raises(ValueError, match="n_buckets"):
            write_bucketed(spark.range(1), "t", "id", n_buckets=0)


def test_global_rank_matches_window(spark):
    """global_rank == the one-partition row_number window, including
    ties (broken by the tiebreaker column) and NULLS FIRST."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from beats_analytics.layout import global_rank

    rows = [(i, v) for i, v in enumerate(
        [5, 3, None, 3, 9, 1, None, 5, 5, 2, 7, 3])]
    df = spark.createDataFrame(rows, "id long, v long").repartition(5)
    got = {r["id"]: r["rnk"]
           for r in global_rank(df, ["v", "id"], partitions=3).collect()}
    w = Window.orderBy(F.col("v").asc_nulls_first(), F.col("id"))
    want = {r["id"]: r["rn"]
            for r in df.select("id", F.row_number().over(w)
                               .alias("rn")).collect()}
    assert got == want
    assert sorted(got.values()) == list(range(1, len(rows) + 1))


def test_global_rank_empty_and_single(spark):
    from beats_analytics.layout import global_rank
    empty = spark.createDataFrame([], "id long, v long")
    assert global_rank(empty, ["v", "id"]).count() == 0
    one = spark.createDataFrame([(1, 42)], "id long, v long")
    assert global_rank(one, ["v", "id"]).collect()[0]["rnk"] == 1


def test_zonemap_stats_range_prunes_hash_does_not(spark):
    from beats_analytics.layout import zonemap_stats
    # values 0..999; predicate selects [100, 199] — 10% of the domain
    df = spark.createDataFrame([(i, i) for i in range(1000)],
                               "id long, v long")
    out = {r["layout"]: r for r in
           zonemap_stats(df, "v", "id", lo=100, hi=199,
                         n_buckets=10).collect()}
    assert out["range"]["rows_matching"] == 100
    # range layout: the 100 matching rows live in exactly one bucket
    assert out["range"]["buckets_scanned"] == 1
    assert out["range"]["rows_scanned"] == 100
    # hash layout: every bucket spans the domain -> nothing skips
    assert out["hash"]["buckets_scanned"] == out["hash"]["n_buckets"]
    assert out["hash"]["rows_scanned"] == 1000


def test_global_prefix_sum_matches_window(spark):
    from pyspark.sql import Window, functions as F
    from beats_analytics.layout import global_prefix_sum

    df = spark.range(0, 500).select(
        F.col("id"), ((F.col("id") * 37) % 113).alias("v"))
    got = global_prefix_sum(df.repartition(13), ["id"], "v",
                            out_col="p")
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, -1)
    want = df.select("id", "v",
                     F.coalesce(F.sum("v").over(w), F.lit(0)).alias("p"))
    assert sorted(map(tuple, got.select("id", "v", "p").collect())) \
        == sorted(map(tuple, want.collect()))


def test_byte_balanced_shards_bounds(spark):
    from pyspark.sql import functions as F
    from beats_analytics.layout import byte_balanced_shards

    # doc sizes vary 100x: hash-repartition would skew bytes badly
    df = spark.range(0, 300).select(
        F.col("id"), (F.when(F.col("id") % 50 == 0, 1000)
                      .otherwise(10)).cast("bigint").alias("nb"))
    sh = byte_balanced_shards(df.repartition(7), ["id"], "nb", 500)
    stats = (sh.groupBy("shard").agg(F.sum("nb").alias("b"),
                                     F.max("nb").alias("mx"))
             .collect())
    total = sum(r["b"] for r in stats)
    assert total == 300 * 10 + 6 * 990
    # the guarantee: no shard exceeds target + max_row_bytes
    for r in stats:
        assert r["b"] < 500 + 1000
    # and the balance is real: most shards sit at/above target
    full = [r for r in stats if r["b"] >= 500]
    assert len(full) >= len(stats) // 2
    assert min(r["shard"] for r in stats) == 0


def test_skyline_2d_known_front(spark):
    from beats_analytics.layout import skyline_2d
    pts = [
        (1, 10, 100), (2, 20, 90), (3, 30, 80),   # the Pareto front
        (4, 10, 90),   # dominated by (10,100) and (20,90)
        (5, 19, 90),   # dominated by (20,90)
        (6, 30, 70),   # dominated by (30,80): same x, lower y
        (7, 10, 100),  # duplicate of (10,100) -> collapses, min id
        (8, 5, 100),   # same y as (10,100), lower x -> dominated
    ]
    df = spark.createDataFrame(pts, "doc_id bigint, x bigint, y bigint")
    out = {(r["x"], r["y"]): r["doc_id"]
           for r in skyline_2d(df, "x", "y").collect()}
    assert out == {(10, 100): 1, (20, 90): 2, (30, 80): 3}
    # single point is its own front
    one = spark.createDataFrame([(9, 1, 1)],
                                "doc_id bigint, x bigint, y bigint")
    assert skyline_2d(one, "x", "y").count() == 1
    # anti-chain: everything survives
    anti = spark.createDataFrame(
        [(i, i, 100 - i) for i in range(10)],
        "doc_id bigint, x bigint, y bigint")
    assert skyline_2d(anti, "x", "y").count() == 10
    # results identical under forced multi-partition ranges
    multi = {(r["x"], r["y"])
             for r in skyline_2d(df, "x", "y", partitions=4).collect()}
    assert multi == set(out)


def test_equidepth_hist_exactness_and_invariance(spark, sf_dir):
    import pytest
    from pyspark.sql import functions as F
    from beats_analytics.layout import equidepth_hist
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = equidepth_hist(docs, "n_chars", "doc_id", n_buckets=7)
    rows = sorted(map(tuple, out.collect()))
    n = docs.count()
    # sizes differ by at most one and sum to n
    sizes = [r[1] for r in rows]
    assert sum(sizes) == n and max(sizes) - min(sizes) <= 1
    # bucket bounds are non-decreasing across buckets
    for (b1, _, _, hi1), (b2, _, lo2, _) in zip(rows, rows[1:]):
        assert b2 == b1 + 1 and lo2 >= hi1 - 0  # sorted value order
        assert lo2 >= rows[0][2]
    # layout-invariant: same histogram at a different partitioning
    again = sorted(map(tuple,
                       equidepth_hist(docs.repartition(13), "n_chars",
                                      "doc_id", 7).collect()))
    assert again == rows
    with pytest.raises(ValueError, match="n_buckets"):
        equidepth_hist(docs, "n_chars", "doc_id", 0)
