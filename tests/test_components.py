"""Connected components (beats_analytics/components.py): min-label
propagation correctness on known graphs, singleton handling,
determinism under partitioning, survivor selection."""

import pytest
from pyspark.sql import functions as F

from beats_analytics.components import (connected_components,
                                            keep_min_per_component)


def _cc(spark, edges, nodes=None, **kw):
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    n = (spark.createDataFrame([(x,) for x in nodes], "id long")
         if nodes is not None else None)
    out = connected_components(e, nodes=n, **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def test_chain_collapses_to_min(spark):
    # a-b, b-c, c-d: one component labeled by the min id — the case
    # pairwise loser-dropping gets wrong
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_two_components_and_singletons(spark):
    got = _cc(spark, [(10, 2), (2, 7), (5, 6)], nodes=[2, 5, 6, 7, 10, 99])
    assert got == {2: 2, 7: 2, 10: 2, 5: 5, 6: 5, 99: 99}


def test_star_and_cycle(spark):
    got = _cc(spark, [(1, 5), (1, 6), (1, 7), (20, 21), (21, 22), (22, 20)])
    assert got == {1: 1, 5: 1, 6: 1, 7: 1, 20: 20, 21: 20, 22: 20}


def test_deterministic_under_partitioning(spark):
    edges = [(i, i + 1) for i in range(0, 40, 2)] + [(1, 39)]
    e = spark.createDataFrame(edges, "id_a long, id_b long").repartition(8)
    out1 = {r["id"]: r["component"]
            for r in connected_components(e).collect()}
    out2 = {r["id"]: r["component"]
            for r in connected_components(e.repartition(3)).collect()}
    assert out1 == out2


def test_long_path_needs_iterations(spark):
    # path of 12 nodes: diameter > 1 forces multiple rounds
    got = _cc(spark, [(i, i + 1) for i in range(11)])
    assert set(got.values()) == {0}


def test_star_contraction_fallback_on_tiny_budget(spark):
    # max_iter=1 forces the large/small-star fallback; labels must be
    # identical to the min-label result
    got = _cc(spark, [(i, i + 1) for i in range(11)], max_iter=1)
    assert got == {i: 0 for i in range(12)}


def test_deep_chain_diameter_over_25_converges(spark):
    # a 60-node path (diameter 59) blows past the default min-label
    # budget (25 rounds); the star-contraction fallback must converge
    # and keep the minimum-member labeling + singletons
    got = _cc(spark, [(i, i + 1) for i in range(59)],
              nodes=list(range(60)) + [999])
    assert got == {**{i: 0 for i in range(60)}, 999: 999}


def test_star_fallback_matches_union_find_random(spark):
    import random
    rng = random.Random(7)
    n = 80
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]

    # driver-side union-find ground truth
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min member id
    comp_min = {}
    for x in range(n):
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    truth = {x: comp_min[find(x)] for x in range(n)}

    via_stars = _cc(spark, edges, nodes=list(range(n)), max_iter=1)
    via_minlabel = _cc(spark, edges, nodes=list(range(n)))
    assert via_stars == truth == via_minlabel


def test_star_fallback_string_ids(spark):
    e = spark.createDataFrame([("d", "c"), ("c", "b"), ("b", "a")],
                              "id_a string, id_b string")
    out = {r["id"]: r["component"]
           for r in connected_components(e, max_iter=1).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_keep_min_per_component(spark):
    e = spark.createDataFrame([(3, 1), (7, 8)], "id_a long, id_b long")
    labeled = connected_components(e)
    kept = sorted(r["id"] for r in keep_min_per_component(labeled).collect())
    assert kept == [1, 7]


def test_universe_always_includes_edge_endpoints(spark):
    # a nodes universe missing edge endpoints must not cause a
    # premature-convergence partial labeling
    got = _cc(spark, [(1, 2), (2, 3)], nodes=[1])
    assert got == {1: 1, 2: 1, 3: 1}
