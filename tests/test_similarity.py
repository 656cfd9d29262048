"""Similarity search: exact top-k determinism and the LSH variant's
bucket/rerank correctness."""

from pyspark.sql import functions as F

from beats_analytics import cosine_topk, lsh_cosine_topk
from beats_analytics.similarity import (
    cosine_similarity, lsh_signature,
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_topk_shape_and_determinism(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    a = cosine_topk(emb, q, k=3).collect()
    b = cosine_topk(emb, q, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_q = {}
    for r in a:
        per_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in per_q.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] \
            == [1, 2, 3]
        assert all(r["neighbor_id"] != qid for r in rows)


def test_lsh_candidates_share_bucket_and_scores_are_exact(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    approx = lsh_cosine_topk(emb, q, k=3, num_planes=3)

    sig = emb.select("vec_id",
                     lsh_signature(F.col("embedding"), 3).alias("sig"))
    sigs = {r["vec_id"]: r["sig"] for r in sig.collect()}
    exact = {(r["query_id"], r["neighbor_id"]): r["cosine"]
             for r in cosine_topk(emb, q, k=10**6).collect()}

    rows = approx.collect()
    assert rows, "LSH with 3 planes must yield candidates at this scale"
    for r in rows:
        # candidate really shares the query's hyperplane bucket…
        assert sigs[r["neighbor_id"]] == sigs[r["query_id"]]
        # …and the rerank cosine equals the exact computation
        assert r["cosine"] == exact[(r["query_id"], r["neighbor_id"])]


def test_ivf_lists_partition_corpus(spark, sf_dir):
    from pyspark.sql import functions as F
    from beats_analytics.similarity import ivf_assign, ivf_cosine_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = (emb.orderBy("vec_id").limit(8)
            .select(F.col("vec_id").alias("centroid_id"), "embedding"))
    lists = ivf_assign(emb, cent)
    # every vector lands in exactly one inverted list
    assert lists.count() == emb.count()
    assert lists.select("vec_id").distinct().count() == emb.count()
    n_lists = lists.select("__list").distinct().count()
    assert 1 < n_lists <= 8

    # probing ALL lists with nprobe=n_centroids reproduces brute force
    from beats_analytics.similarity import cosine_topk
    q = emb.filter(F.col("vec_id") < 5)
    full = ivf_cosine_topk(emb, q, k=3, n_centroids=8, nprobe=8)
    brute = cosine_topk(emb, q, k=3)
    assert sorted(map(tuple, full.collect())) == \
        sorted(map(tuple, brute.collect()))


# ---------------------------------------------------------- k-means

def _clustered_vectors(spark, per_cluster=20, dim=6):
    """Three well-separated direction clusters: axis e_c plus a small
    deterministic off-axis jitter."""
    rows = []
    for c in range(3):
        for i in range(per_cluster):
            v = [0.0] * dim
            v[c] = 1.0
            v[3 + (i % 3)] = 0.05 + 0.01 * (i % 5)   # jitter dims 3-5
            rows.append((c * 100 + i, v, c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, truth int")


def test_kmeans_fit_recovers_separated_clusters(spark):
    from beats_analytics import ivf_assign, kmeans_fit
    df = _clustered_vectors(spark)
    cent = kmeans_fit(df, k=3, max_iter=4)
    assert cent.count() == 3
    # unit-norm centroids
    import math
    for r in cent.collect():
        assert math.isclose(sum(x * x for x in r.embedding), 1.0,
                            rel_tol=1e-9)
    assigned = ivf_assign(df, cent, out_col="cluster")
    # purity: each true cluster maps to exactly one fitted cluster,
    # and the three fitted clusters are distinct
    m = {(r.truth, r.cluster) for r in assigned.collect()}
    by_truth = {}
    for t, c in m:
        by_truth.setdefault(t, set()).add(c)
    assert all(len(cs) == 1 for cs in by_truth.values())
    assert len({next(iter(cs)) for cs in by_truth.values()}) == 3


def test_kmeans_fit_deterministic_across_partitionings(spark):
    from beats_analytics import ivf_assign, kmeans_fit
    df = _clustered_vectors(spark)
    a = kmeans_fit(df, k=3, max_iter=3)
    b = kmeans_fit(df.repartition(7), k=3, max_iter=3)
    # same cluster SIZES on well-separated data (bitwise centroid
    # equality is not promised — float sums are order-sensitive)
    sa = sorted(r["count"] for r in
                ivf_assign(df, a, out_col="c").groupBy("c").count()
                .collect())
    sb = sorted(r["count"] for r in
                ivf_assign(df, b, out_col="c").groupBy("c").count()
                .collect())
    assert sa == sb == [20, 20, 20]


def test_kmeans_fit_empty_cluster_and_validation(spark):
    from beats_analytics import kmeans_fit
    import pytest as _pytest
    df = _clustered_vectors(spark, per_cluster=2)
    # k larger than distinct directions: empty clusters keep their
    # seed centroid, output still has k rows
    cent = kmeans_fit(df, k=5, max_iter=2)
    assert cent.count() == 5
    with _pytest.raises(ValueError):
        kmeans_fit(df, k=0)


def test_ivf_topk_accepts_trained_centroids(spark, sf_dir):
    from beats_analytics import ivf_cosine_topk, kmeans_fit
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 3)
    cent = kmeans_fit(corpus, k=4, max_iter=2)
    out = ivf_cosine_topk(corpus, queries, k=5, nprobe=4,
                          centroids=cent)
    got = out.groupBy("query_id").count().collect()
    assert len(got) == 3 and all(r["count"] == 5 for r in got)


def _vec_df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<double>")


def test_semdedup_keeps_farthest_of_dup_group(spark):
    from beats_analytics import semdedup
    import math
    # one centroid at (1,0); three near-identical vectors at small
    # angles plus one orthogonal singleton. keep='far' must keep ONLY
    # the widest-angle member of the dup trio.
    def ang(a):
        return (math.cos(a), math.sin(a))
    vecs = _vec_df(spark, [
        (10, ang(0.02)), (11, ang(0.05)), (12, ang(0.40)),
        (13, (0.0, 1.0)),
    ])
    cent = _vec_df(spark, [(0, (1.0, 0.0))]).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    out = {r["vec_id"]: r["kept"]
           for r in semdedup(vecs, cent, 0.95).collect()}
    # cos(0.40 vs 0.02/0.05) ≈ 0.93/0.94 < 0.95 → 12 is no dup of
    # the tight pair; 10 and 11 are mutual dups (cos ≈ 0.9996) and 11
    # is nearer the centroid than 12? ordering: sim asc keeps the
    # farthest first. 13 is orthogonal → kept.
    assert out[13] is True and out[12] is True
    assert out[10] is True or out[11] is True
    assert not (out[10] and out[11])          # exactly one of the pair
    # the SURVIVOR of the tight pair is the farther-from-centroid one
    assert out[11] is True and out[10] is False


def test_semdedup_near_keeps_closest_instead(spark):
    from beats_analytics import semdedup
    import math
    vecs = _vec_df(spark, [
        (10, (math.cos(0.02), math.sin(0.02))),
        (11, (math.cos(0.05), math.sin(0.05))),
    ])
    cent = _vec_df(spark, [(0, (1.0, 0.0))]).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    out = {r["vec_id"]: r["kept"]
           for r in semdedup(vecs, cent, 0.95, keep="near").collect()}
    assert out[10] is True and out[11] is False


def test_semdedup_repartition_invariant_and_plan(spark, sf_dir):
    from beats_analytics import semdedup
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    cent = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    a = sorted(map(tuple, semdedup(emb, cent, 0.3).collect()))
    b = sorted(map(tuple,
                   semdedup(emb.repartition(13), cent, 0.3).collect()))
    assert a == b and len(a) == emb.count()
    plan = (semdedup(emb, cent, 0.3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan     # pair join rides the
    # centroid_id equi-key; only the 1-row centroid broadcast is BNLJ


def test_semdedup_validation_and_kmeans_composition(spark, sf_dir):
    import pytest
    from beats_analytics import kmeans_fit, semdedup
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    with pytest.raises(ValueError, match="keep"):
        semdedup(emb, emb.limit(1), 0.5, keep="nope")
    with pytest.raises(ValueError, match="threshold"):
        semdedup(emb, emb.limit(1), 0.0)
    cent = kmeans_fit(emb.filter(F.col("vec_id") < 100), k=3,
                      max_iter=2)
    out = semdedup(emb.filter(F.col("vec_id") < 100), cent, 0.3)
    rows = out.collect()
    assert len(rows) == 100
    assert {r["centroid_id"] for r in rows} <= {0, 1, 2}
    assert any(r["kept"] for r in rows)


# ------------------------------------------------------------- RRF

def test_rrf_fuse_exact_scores_and_missing_ids(spark):
    from beats_analytics.similarity import rrf_fuse
    import pytest as _pytest
    r1 = spark.createDataFrame([(1, 1), (2, 2), (3, 3)],
                               "id long, rank int")
    r2 = spark.createDataFrame([(2, 1), (1, 2)],  # id 3 absent
                               "id long, rank int")
    got = {r.id: (r.rrf_micro, r.n_lists)
           for r in rrf_fuse([r1, r2], k=60).collect()}
    assert got[1] == (1_000_000 // 61 + 1_000_000 // 62, 2)
    assert got[2] == (1_000_000 // 62 + 1_000_000 // 61, 2)
    assert got[3] == (1_000_000 // 63, 1)   # missing contributes 0
    # fusion plans without joins: one exchange for the sum agg
    plan = (rrf_fuse([r1, r2])._jdf.queryExecution()
            .executedPlan().toString())
    assert "Join" not in plan
    with _pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with _pytest.raises(ValueError, match="k must"):
        rrf_fuse([r1], k=-1)


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Probing Hamming-1 buckets can only ADD candidates: multi-probe
    recall vs brute force is >= single-probe recall, and probes=0
    reproduces the single-probe operator exactly."""
    from beats_analytics.similarity import (
        cosine_topk, lsh_cosine_topk, lsh_multiprobe_topk)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.limit(8)

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"])
                for r in df.collect()}

    truth = pairs(cosine_topk(emb, queries, k=5))
    single = pairs(lsh_cosine_topk(emb, queries, k=5, num_planes=6))
    multi = pairs(lsh_multiprobe_topk(emb, queries, k=5,
                                      num_planes=6, probes=1))
    zero = pairs(lsh_multiprobe_topk(emb, queries, k=5,
                                     num_planes=6, probes=0))
    assert zero == single
    assert len(multi & truth) >= len(single & truth)
    # on this fixture the 1-flip probes must actually help somewhere
    assert len(multi) >= len(single)
    import pytest as _pt
    with _pt.raises(ValueError, match="probes"):
        lsh_multiprobe_topk(emb, queries, probes=99)


def test_bitext_margin_known_values_and_hub_penalty(spark):
    """Replay the integer margin formula on hand vectors; the hub
    target (high cosine to EVERYTHING) must be margin-penalized."""
    import math
    from decimal import Decimal, ROUND_HALF_UP
    from beats_analytics.similarity import bitext_margin_mine

    def cos6(a, b):
        c = (sum(x * y for x, y in zip(a, b))
             / (math.sqrt(sum(x * x for x in a))
                * math.sqrt(sum(x * x for x in b))))
        return float(Decimal(repr(c)).quantize(Decimal("0.000001"),
                                               ROUND_HALF_UP))

    src = {0: [1.0, 0.05], 2: [0.05, 1.0]}
    tgt = {1: [0.99, 0.12],          # genuine pair for 0
           3: [0.12, 0.99],          # genuine pair for 2
           5: [0.75, 0.70]}          # hub: close to both
    sdf = spark.createDataFrame(
        [(i, v) for i, v in src.items()],
        "vec_id long, embedding array<double>")
    tdf = spark.createDataFrame(
        [(i, v) for i, v in tgt.items()],
        "vec_id long, embedding array<double>")
    out = {r["src_id"]: r for r in
           bitext_margin_mine(sdf, tdf, k=2,
                              margin_micro_min=0).collect()}
    # expected: forward kNN (k=2) per src, candidates' backward kNN
    def knn(q, corpus, k):
        s = sorted(((cos6(q, v), -i) for i, v in corpus.items()),
                   reverse=True)[:k]
        return [(int(c * 10**6 + (0.5 if c >= 0 else -0.5)), -i)
                for c, i in s]
    for x, xv in src.items():
        fwd = knn(xv, tgt, 2)
        sx, nx = sum(c for c, _ in fwd), len(fwd)
        best = None
        for cu6, y in fwd:
            bwd = knn(tgt[y], src, 2)
            sy, ny = sum(c for c, _ in bwd), len(bwd)
            m = (cu6 * 2 * nx * ny * 10**6) // (sx * ny + sy * nx)
            if best is None or (m, -y) > (best[0], -best[1]):
                best = (m, y)
        assert out[x]["margin_u6"] == best[0]
        assert out[x]["tgt_id"] == best[1]
    # the hub must not win either source despite decent raw cosine
    assert out[0]["tgt_id"] == 1
    assert out[2]["tgt_id"] == 3


def test_pq_topk_recall_vs_brute_and_guards(spark):
    """PQ shortlist + rerank must recover most of the true top-k
    (recall vs brute force), and the rerank stage must make the
    returned cosines EXACT (not approximations)."""
    import pytest
    from beats_analytics.similarity import cosine_topk, pq_topk
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 5")
    true = {(r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in cosine_topk(emb, queries, k=5).collect()}
    got = {(r["query_id"], r["neighbor_id"]): r["cosine"]
           for r in pq_topk(emb, queries, dim=64, k=5,
                            rerank=40).collect()}
    hits = set(true) & set(got)
    assert len(hits) >= int(0.6 * len(true))  # coarse-code recall
    for key in hits:                          # rerank = exact cosine
        assert got[key] == true[key]
    with pytest.raises(ValueError):
        pq_topk(emb, queries, dim=63, m=4)
    with pytest.raises(ValueError):
        pq_topk(emb, queries, dim=64, k=10, rerank=5)


def test_hard_negatives_excludes_positives(spark, sf_dir):
    from pyspark.sql import functions as F
    from beats_analytics.similarity import (cosine_topk_blocked,
                                                hard_negatives)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    plain = cosine_topk_blocked(emb, q, k=3)
    hard = hard_negatives(emb, q, k=3, dup_ceiling=0.3)
    # ceiling bites: no mined negative reaches it, and at least one
    # query's plain top-1 was excluded
    assert hard.filter(F.col("cosine") >= 0.3).count() == 0
    top1_plain = {(r["query_id"], r["neighbor_id"])
                  for r in plain.filter("rank = 1").collect()}
    top1_hard = {(r["query_id"], r["neighbor_id"])
                 for r in hard.filter("rank = 1").collect()}
    assert top1_plain != top1_hard
    # every query still got k rows (corpus is big enough below 0.3)
    assert hard.groupBy("query_id").count().filter("count <> 3") \
               .count() == 0


def test_random_projection_exactness_and_edges(spark):
    from beats_analytics.similarity import random_projection
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0]), (3, []), (4, None)],
        "vec_id bigint, embedding array<float>")
    out = random_projection(df, out_dims=2)
    rows = {(r["vec_id"], r["out_dim"]): r["proj_micro"]
            for r in out.collect()}

    def sign(i, j):
        return (1 if (i * i * (j + 1) + i * 31 * (j + 1) * (j + 1)
                      + i * 7 + 11 * j) % 101 % 2 == 0 else -1)

    em = [1_000_000, -2_000_000, 500_000]
    for j in range(2):
        want = sum(e * sign(i + 1, j) for i, e in enumerate(em))
        assert rows[(1, j)] == want
    assert rows[(2, 0)] == 0          # zero vector → 0
    assert rows[(3, 0)] == 0          # empty vector → 0 (not a crash)
    assert rows[(4, 0)] is None       # NULL vector → NULL
    assert out.count() == 8


def test_random_projection_preserves_distances(spark):
    """JL sanity: relative pairwise distances in the projected space
    correlate with the original space (signs are pseudo-random enough)."""
    import itertools
    import numpy as np
    from beats_analytics.similarity import random_projection
    rng = np.random.default_rng(7)
    # structured points (varying norms), so pairwise distances have
    # real spread — true-random Rademacher scores only r~0.5 on
    # near-equidistant gaussian points, which tests nothing
    vecs = {i: rng.standard_normal(64).astype("float64") * (1.0 + i)
            for i in range(12)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id bigint, embedding array<float>")
    proj = random_projection(df, out_dims=16).toPandas()
    pv = {i: g.sort_values("out_dim")["proj_micro"].to_numpy(dtype="float64")
          for i, g in proj.groupby("vec_id")}
    pairs = list(itertools.combinations(sorted(vecs), 2))
    d_orig = np.array([np.linalg.norm(vecs[a] - vecs[b]) for a, b in pairs])
    d_proj = np.array([np.linalg.norm(pv[a] - pv[b]) for a, b in pairs])
    r = np.corrcoef(d_orig, d_proj)[0, 1]
    assert r > 0.5, f"projected distances uncorrelated (r={r:.3f})"
