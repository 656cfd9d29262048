"""Link-graph authority scoring: PageRank over an edge list.

Web-corpus curation uses link-graph centrality as a document quality
prior (Common-Crawl-derived pipelines rank hosts by harmonic
centrality / PageRank and keep the head); this is that signal as a
DataFrame operator over an arbitrary ``(src, dst)`` edge table.

Integer-exact by construction: ranks live in **micro-units** (a long,
``scale`` = 1.0) and every per-iteration quantity is integer
arithmetic — ``floor(rank / out_degree)`` per edge, summed, then
``base + floor(sum * damping_pct / 100)``. Float PageRank sums in
engine- and partition-dependent order, so no two engines (or two
shuffles) agree bit-for-bit; integer micro-units make the fixed-point
iteration exactly reproducible anywhere (same trick as the token
bucket's micro-tokens and the LM scorer's micro-nats). The per-node
quantization error is < 1 micro-unit per term and is itself
deterministic.

Plan shape per iteration: ranks ⋈ out-degree ⋈ edges on src (one hash
exchange on src — out-degree is |nodes|-sized, NOT broadcast), then a
partial-aggregated groupBy dst (second exchange), then a left join
back onto the node universe. Rank/label frames are
``localCheckpoint``-ed per round (lineage would double otherwise, as
in :mod:`.components`). Dangling nodes (no out-edges) leak their mass
— the classic simplification; document counts, not probability mass,
is what the quality prior needs, and dropping it keeps the iteration
join-only. Self-loops and duplicate edges are removed up front.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["hits", "kcore", "label_propagation", "pagerank",
           "resolve_pointers", "spam_mass", "triangle_count",
           "trustrank"]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    id_col: str = "node",
    rank_col: str = "rank_micro",
) -> DataFrame:
    """``iters`` rounds of integer-exact PageRank over the distinct
    ``(src, dst)`` edge list → ``(node, rank_micro)``, one row per
    node appearing at either end of an edge.

    ``rank_micro`` is the rank in micro-units of ``scale`` (so with
    the default scale, 1_000_000 ≡ rank 1.0 and the initial rank is
    ``floor(scale / N)``). ``damping_pct`` is the damping factor in
    integer percent (85 ≡ the canonical 0.85). Fixed iteration count,
    not convergence-tested: the quality-prior use wants a
    deterministic budget, and every engine reproducing the same
    ``iters`` gets bit-identical longs.
    """
    if iters < 0:
        raise ValueError(f"pagerank: iters must be >= 0, got {iters}")
    if not 0 <= damping_pct <= 100:
        raise ValueError("pagerank: damping_pct must be in [0, 100], "
                         f"got {damping_pct}")
    if scale < 1:
        raise ValueError(f"pagerank: scale must be >= 1, got {scale}")
    if scale * 100 > (1 << 53):
        # floor(rank/out_deg) and floor(sum*damping/100) run through
        # double division; past 2^53 they round before flooring and
        # the bit-exactness guarantee silently breaks
        raise ValueError(f"pagerank: scale {scale} too large — "
                         "scale*100 must stay under 2^53 for exact "
                         "double-free flooring")
    e = (edges.select(F.col(src).cast("long").alias("src"),
                      F.col(dst).cast("long").alias("dst"))
         .filter(F.col("src") != F.col("dst"))
         .distinct())
    # joined every round — materialize once, like the CC edge list
    e = e.localCheckpoint(eager=True)
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct())
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("__od"))
    n = nodes.agg(F.count(F.lit(1)).alias("__n"))
    init = (nodes.join(F.broadcast(n))
            .select("node",
                    F.floor(F.lit(scale) / F.col("__n"))
                     .cast("long").alias("rank"),
                    F.floor(F.lit(scale * (100 - damping_pct))
                            / (F.lit(100) * F.col("__n")))
                     .cast("long").alias("__base")))
    ranks = init.localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = (e.join(ranks.withColumnRenamed("node", "src")
                               .select("src", "rank"), "src")
                    .join(outd, "src")
                    .select(F.col("dst").alias("node"),
                            F.floor(F.col("rank") / F.col("__od"))
                             .cast("long").alias("__c")))
        sums = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        ranks = (ranks.select("node", "__base")
                 .join(sums, "node", "left")
                 .select("node",
                         (F.col("__base")
                          + F.floor(F.coalesce(F.col("__s"), F.lit(0))
                                    * F.lit(damping_pct) / F.lit(100))
                          .cast("long")).alias("rank"),
                         "__base"))
        ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(F.col("node").alias(id_col),
                        F.col("rank").alias(rank_col))


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Global triangle count over an undirected view of ``edges``:
    one row ``(n_nodes, n_edges, n_triangles)``. Self-loops,
    duplicate edges, and direction are removed up front.

    Triangle density is the other classic link-graph quality signal
    next to :func:`pagerank` — spam link farms are near-bipartite
    (few triangles per edge) while organic communities close them.

    Algorithm: the degree-ordered node-iterator (Suri &
    Vassilvitskii 2011). Every edge is oriented from its lower
    (degree, id) endpoint to its higher one, wedges are generated at
    each edge's LOW vertex only, and a wedge closes iff its third
    edge exists in the canonical edge set. The orientation is the
    scale insight: a hot vertex with degree d (the "curse of the
    last reducer" — a celebrity host with 10^6 inlinks would emit
    10^12 wedges) only generates wedges toward HIGHER-ranked
    vertices, bounding every adjacency list involved in the
    self-join at O(sqrt(|E|)). Each triangle is counted exactly
    once, at its lowest-ranked vertex. Three shuffles total: degree
    agg, the wedge self-join on the low vertex, the closing-edge
    semi-join.
    """
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .filter(F.col("s") != F.col("d")))
    # the canonical edge set feeds FIVE consumers (degrees, both
    # orientation joins, the closing semi-join, the edge count);
    # without the barrier the whole upstream edge derivation re-runs
    # per consumer (measured: 73 Exchanges on the trade-graph demo
    # without it, 18 with)
    und = (e.select(F.least("s", "d").alias("a"),
                    F.greatest("s", "d").alias("b"))
           .distinct().localCheckpoint())
    deg = (und.select(F.col("a").alias("n"))
           .unionAll(und.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("deg")))
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("degb"))
    withdeg = und.join(da, "a").join(db, "b")
    a_first = (F.col("dega") < F.col("degb")) | \
              ((F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b")))
    oriented = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"))
    w1 = oriented.select("lo", F.col("hi").alias("x"))
    w2 = oriented.select("lo", F.col("hi").alias("y"))
    wedges = (w1.join(w2, "lo")
              .filter(F.col("x") < F.col("y"))
              .select(F.least("x", "y").alias("a"),
                      F.greatest("x", "y").alias("b")))
    tri = wedges.join(und, ["a", "b"], "left_semi")
    return (und.agg(F.count(F.lit(1)).alias("n_edges"))
            .crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
            .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
            .select("n_nodes", "n_edges", "n_triangles"))


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 2,
    rounds: int = 8,
    id_col: str = "node",
    deg_col: str = "degree",
) -> DataFrame:
    """k-core membership by iterative peeling over an undirected view
    of ``edges``: repeatedly drop nodes whose residual degree is
    below ``k``, then return ``(node, degree)`` for the survivors.

    The k-core — the maximal subgraph where every node keeps >= k
    neighbors INSIDE the subgraph — is the standard link-graph
    "dense center" extractor: seed hosts for crawl prioritization,
    spam-farm cores (farms are dense by construction), and the
    community backbone that survives when one-link stragglers are
    peeled away. Unlike raw degree it is recursive: a host with 50
    inlinks all from leaf pages is NOT in the 2-core.

    The k-core is unique (order-independent), so fixed-round peeling
    is exactly reproducible anywhere: ``rounds`` must be >= the
    peeling depth for full convergence (each round removes at least
    one node until fixed point, and in practice depth is tiny — a
    round strips an entire "layer" of the degeneracy ordering).
    Callers wanting a proof of convergence compare round counts R
    and R+1; the catalog query pins a depth the demo graph converges
    well inside.

    Plan shape per round: one degree aggregation (union of endpoint
    projections -> groupBy: a single hash exchange on 8-byte node
    ids), then two LEFT SEMI joins filtering the edge list to
    surviving endpoints — the exchanges only ever carry (a, b) long
    pairs, never payload, the same 16-byte-key discipline as
    :func:`~beats_analytics.components.connected_components`.
    The shrinking edge frame is ``localCheckpoint``-ed per round so
    lineage stays flat (the :func:`pagerank` lesson); since the
    frame only ever SHRINKS, per-round cost is monotonically
    non-increasing — peeling is cheaper than any fixed-point
    algorithm that rebuilds the full frame each round.

    Reference anchor: filebeat has no graph ops — this extends the
    web-corpus curation surface next to :func:`pagerank` /
    :func:`trustrank` (SURVEY.md LLM-pipeline additions).
    """
    if k < 1:
        raise ValueError(f"kcore: k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"kcore: rounds must be >= 1, got {rounds}")
    e = (edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
         .filter(F.col("s") != F.col("d")))
    und = (e.select(F.least("s", "d").alias("a"),
                    F.greatest("s", "d").alias("b"))
           .distinct().localCheckpoint(eager=True))

    def _deg(frame: DataFrame) -> DataFrame:
        return (frame.select(F.col("a").alias("node"))
                .unionAll(frame.select(F.col("b").alias("node")))
                .groupBy("node").agg(F.count(F.lit(1)).alias("__deg")))

    for _ in range(int(rounds)):
        keep = _deg(und).filter(F.col("__deg") >= k).select("node")
        und = (und.join(keep.withColumnRenamed("node", "a"),
                        "a", "left_semi")
               .join(keep.withColumnRenamed("node", "b"),
                     "b", "left_semi")
               .localCheckpoint(eager=True))
    return (_deg(und).filter(F.col("__deg") >= k)
            .select(F.col("node").alias(id_col),
                    F.col("__deg").cast("long").alias(deg_col)))


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    scale: int = 1_000_000,
    id_col: str = "node",
) -> DataFrame:
    """``iters`` rounds of integer-exact HITS (Kleinberg 1999,
    "Authoritative Sources in a Hyperlinked Environment") →
    ``(node, hub_micro, auth_micro)`` — the hubs/authorities
    complement to :func:`pagerank`: directories/link farms score as
    hubs, the pages worth crawling score as authorities, and the
    ASYMMETRY between a node's two scores is the spam signal a
    single centrality can't see.

    Each round: ``auth(v) = Σ_{u→v} hub(u)``, max-normalized to
    ``scale``; then ``hub(u) = Σ_{u→v} auth(v)``, max-normalized —
    max-normalization (not L2) keeps every value an exact BIGINT:
    ``(raw · scale) div max(raw)``, bit-identical on any engine.
    Fixed iteration budget like :func:`pagerank` (determinism over
    convergence tests). Nodes with no in-edges get auth 0, no
    out-edges hub 0.

    Scale guard: round sums are bounded by ``N·scale``, so
    ``N·scale²`` must stay under 2^63 — at the default scale that is
    ~9·10^6 nodes; pass a smaller ``scale`` for bigger graphs (the
    host graph, not the page graph, is the intended input — rank
    pages with pagerank).

    Shape per round: two (join + partial-combining sum) passes keyed
    src/dst + two scalar max aggregations broadcast back;
    ranks localCheckpoint-ed per round (the iterative-lineage lesson
    from pagerank/connected components, measured in PLANS.md).
    """
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    if scale < 1:
        raise ValueError(f"hits: scale must be >= 1, got {scale}")
    e = (edges.select(F.col(src).cast("long").alias("src"),
                      F.col(dst).cast("long").alias("dst"))
         .filter(F.col("src") != F.col("dst"))
         .distinct())
    e = e.localCheckpoint(eager=True)
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct()
             .localCheckpoint(eager=True))

    def _norm(raw: DataFrame, out: str) -> DataFrame:
        """nodes LEFT JOIN raw sums → (node, (raw·scale) div max)."""
        mx = raw.agg(F.max("__raw").alias("__mx"))
        return (nodes.join(raw, "node", "left")
                .join(F.broadcast(mx))
                .select("node",
                        F.expr(f"(coalesce(__raw, 0) * {int(scale)})"
                               " DIV __mx").alias(out)))

    hub = nodes.select("node", F.lit(scale).cast("long").alias("hub"))
    auth = None
    for _ in range(iters):
        a_raw = (e.join(hub.withColumnRenamed("node", "src"), "src")
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.sum("hub").alias("__raw")))
        auth = _norm(a_raw, "auth").localCheckpoint(eager=True)
        h_raw = (e.join(auth.withColumnRenamed("node", "dst"), "dst")
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.sum("auth").alias("__raw")))
        hub = _norm(h_raw, "hub").localCheckpoint(eager=True)
    return (hub.join(auth, "node")
            .select(F.col("node").alias(id_col),
                    F.col("hub").alias("hub_micro"),
                    F.col("auth").alias("auth_micro")))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    id_col: str = "node",
    label_col: str = "community",
) -> DataFrame:
    """``iters`` synchronous rounds of deterministic label
    propagation (Raghavan et al. 2007 LPA, the near-linear community
    detector) over the undirected view of ``edges`` →
    ``(node, community)``.

    Communities are finer than :mod:`.components`' connected
    components (one component can hold many communities) and
    cheaper than modularity optimizers — the standard first cut for
    "which hosts form a topical cluster / link ring". Plain LPA is
    notoriously nondeterministic (random visit order, random tie
    breaks); this variant is replay-exact: simultaneous (Jacobi)
    updates, each node adopting the neighbor label with the highest
    (count, then SMALLEST label) — a total order, no randomness —
    and a fixed iteration budget (the pagerank determinism
    contract; Jacobi LPA can oscillate, so the budget IS the spec,
    not a convergence shortcut).

    Shape per round: one join of the checkpointed edge list to the
    label frame (keyed on the neighbor end), one partial-combining
    (node, label) count, one per-node window for the arg-max, then
    localCheckpoint (iterative-lineage rule). Labels are node ids,
    so 8-byte keys everywhere.
    """
    if iters < 0:
        raise ValueError(f"label_propagation: iters must be >= 0, "
                         f"got {iters}")
    e = (edges.select(F.col(src).cast("long").alias("a"),
                      F.col(dst).cast("long").alias("b"))
         .filter(F.col("a") != F.col("b")))
    und = (e.union(e.select(F.col("b").alias("a"),
                            F.col("a").alias("b")))
           .distinct()
           .localCheckpoint(eager=True))
    labels = (und.select(F.col("a").alias("node")).distinct()
              .withColumn("lbl", F.col("node"))
              .localCheckpoint(eager=True))
    w = Window.partitionBy("node").orderBy(
        F.col("__n").desc(), F.col("lbl").asc())
    for _ in range(iters):
        nbr = (und.join(labels.withColumnRenamed("node", "b"), "b")
               .select(F.col("a").alias("node"), "lbl"))
        counts = (nbr.groupBy("node", "lbl")
                  .agg(F.count(F.lit(1)).alias("__n")))
        labels = (counts.withColumn("__r", F.row_number().over(w))
                  .filter(F.col("__r") == 1)
                  .select("node", "lbl")
                  .localCheckpoint(eager=True))
    return labels.select(F.col("node").alias(id_col),
                         F.col("lbl").alias(label_col))


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    iters: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    id_col: str = "node",
    rank_col: str = "trust_micro",
) -> DataFrame:
    """``iters`` rounds of integer-exact TrustRank (Gyongyi et al.,
    VLDB'04: personalized PageRank whose teleport mass lands ONLY on
    a trusted seed set) → ``(node, trust_micro)``.

    Same fixed-point micro-unit recurrence as :func:`pagerank` — the
    ONLY change is the teleport vector: seed nodes start at
    ``floor(scale / n_seeds)`` with per-round base
    ``floor(scale*(100-damping_pct) / (100*n_seeds))``; every other
    node starts at 0 with base 0, so trust can reach a page only by
    flowing OUT of the seed set along real links. Spam farms, which
    organic seed pages do not link into, starve — the gap between a
    node's PageRank and its TrustRank is Gyongyi's *spam mass*
    estimate (computed by :func:`spam_mass`).

    Plan shape per iteration is pagerank's: one hash exchange on src
    (ranks ⋈ out-degree ⋈ edges), one partial-aggregated groupBy dst,
    one left join onto the node universe; rank frames
    ``localCheckpoint``-ed per round. Seeds are joined (LEFT, flag),
    never collected — a 100 TB edge list with a million-row seed set
    stays fully distributed.
    """
    if iters < 0:
        raise ValueError(f"trustrank: iters must be >= 0, got {iters}")
    if not 0 <= damping_pct <= 100:
        raise ValueError("trustrank: damping_pct must be in "
                         f"[0, 100], got {damping_pct}")
    if scale < 1 or scale * 100 > (1 << 53):
        raise ValueError(f"trustrank: scale {scale} out of the "
                         "exact-flooring range (see pagerank)")
    e = (edges.select(F.col(src).cast("long").alias("src"),
                      F.col(dst).cast("long").alias("dst"))
         .filter(F.col("src") != F.col("dst"))
         .distinct())
    e = e.localCheckpoint(eager=True)
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct())
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("__od"))
    sd = (seeds.select(F.col(seed_col).cast("long").alias("node"))
          .distinct()
          .join(nodes, "node", "left_semi")  # trust only graph nodes
          .withColumn("__seed", F.lit(1)))
    ns = sd.agg(F.count(F.lit(1)).alias("__ns"))
    init = (nodes.join(sd, "node", "left")
            .join(F.broadcast(ns))
            .select("node",
                    F.when(F.col("__seed").isNotNull(),
                           F.floor(F.lit(scale) / F.col("__ns")))
                     .otherwise(F.lit(0))
                     .cast("long").alias("rank"),
                    F.when(F.col("__seed").isNotNull(),
                           F.floor(F.lit(scale * (100 - damping_pct))
                                   / (F.lit(100) * F.col("__ns"))))
                     .otherwise(F.lit(0))
                     .cast("long").alias("__base")))
    ranks = init.localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = (e.join(ranks.withColumnRenamed("node", "src")
                               .select("src", "rank"), "src")
                    .join(outd, "src")
                    .select(F.col("dst").alias("node"),
                            F.floor(F.col("rank") / F.col("__od"))
                             .cast("long").alias("__c")))
        sums = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        ranks = (ranks.select("node", "__base")
                 .join(sums, "node", "left")
                 .select("node",
                         (F.col("__base")
                          + F.floor(F.coalesce(F.col("__s"), F.lit(0))
                                    * F.lit(damping_pct) / F.lit(100))
                          .cast("long")).alias("rank"),
                         "__base"))
        ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(F.col("node").alias(id_col),
                        F.col("rank").alias(rank_col))


def spam_mass(
    pr: DataFrame,
    tr: DataFrame,
    id_col: str = "node",
    pr_col: str = "rank_micro",
    tr_col: str = "trust_micro",
) -> DataFrame:
    """Gyongyi spam-mass estimate from a :func:`pagerank` and a
    :func:`trustrank` frame: the fraction of a node's rank NOT
    accounted for by trust flow,
    ``spam_mass_micro = clamp(floor(1e6 * (pr - tr) / pr), 0, 1e6)``
    (NULL where pr = 0). High mass + high rank = rank earned from
    untrusted regions of the graph — the link-spam demotion signal.
    One join on the node id (both sides are node-sized, far smaller
    than the edge list that produced them); pure codegen arithmetic.
    """
    j = pr.select(id_col, pr_col).join(
        tr.select(id_col, tr_col), id_col, "left")
    m = (F.col(pr_col) - F.coalesce(F.col(tr_col), F.lit(0)))
    frac = F.floor(m * 1_000_000 / F.col(pr_col))
    return j.select(
        id_col, pr_col,
        F.coalesce(F.col(tr_col), F.lit(0)).alias(tr_col),
        F.when(F.col(pr_col) > 0,
               F.least(F.greatest(frac, F.lit(0)), F.lit(1_000_000)))
         .cast("long").alias("spam_mass_micro"))


def resolve_pointers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
) -> DataFrame:
    """Resolve every chain in a functional (out-degree ≤ 1) pointer
    graph to its terminal node by **pointer doubling**: HTTP redirect
    chains to the final URL, wiki/merge-redirect chains to the
    canonical article, alias/symlink chains, dedup keeper-of-keeper
    chains. Each round composes the map with itself, so a chain of
    length L resolves in ``ceil(log2 L)`` rounds — ``rounds`` joins
    total, never one join per hop. That is the whole point at 100 TB:
    a naive follow-the-link loop is O(longest chain) sequential
    passes over the edge table; doubling is O(log) with the SAME
    per-round cost (one hash self-join on 24-byte
    ``(src, ptr, hops)`` rows; the frame is localCheckpoint-ed per
    round so lineage stays flat, as in :func:`pagerank`).

    Returns ``(src, final, hops, resolved)`` for every edge source.
    ``resolved`` is false when the chain is still on a source node
    after ``2^rounds`` hops — a longer-than-cap chain or a cycle
    (a functional graph's only non-terminating shape); callers route
    those to a dead-letter the same way the sink layer does, rather
    than this operator spinning forever (the reference's own HTTP
    client caps redirects at a fixed hop budget for the same reason).

    Input rows with duplicate ``src`` would make the map ambiguous:
    deduped up front with ``min(dst)`` (deterministic), matching the
    keep-first discipline of :func:`~beats_analytics.dedup
    .dedup_exact`.
    """
    if rounds < 1:
        raise ValueError("resolve_pointers: rounds must be >= 1")
    e = (edges.groupBy(F.col(src).alias("src"))
         .agg(F.min(F.col(dst)).alias("ptr"))
         .localCheckpoint(eager=False))
    cur = e.select("src", "ptr", F.lit(1).cast("long").alias("hops"),
                   F.lit(False).alias("done"))
    nxt_side = e.select(F.col("src").alias("__s"),
                        F.col("ptr").alias("__p"))
    for r in range(int(rounds)):
        # b carries the CURRENT state of the node cur points at; on
        # round r cur covers 2^r hops, so composing doubles the reach
        b = cur.select(F.col("src").alias("__s"),
                       F.col("ptr").alias("__p"),
                       F.col("hops").alias("__h"),
                       F.col("done").alias("__d"))
        j = cur.join(b, cur["ptr"] == b["__s"], "left")
        stop = F.col("done") | F.col("__s").isNull()
        cur = (j.select(
            "src",
            F.when(stop, F.col("ptr")).otherwise(F.col("__p"))
             .alias("ptr"),
            F.when(stop, F.col("hops"))
             .otherwise(F.col("hops") + F.col("__h")).alias("hops"),
            (stop | F.col("__d")).alias("done"))
            .localCheckpoint(eager=False))
    # a chain can end exactly ON the cap with a terminal ptr the loop
    # never got to test — classify with one final anti-probe
    probe = nxt_side.select(F.col("__s").alias("__k"))
    return (cur.join(probe, cur["ptr"] == probe["__k"], "left")
            .select("src", F.col("ptr").alias("final"), "hops",
                    F.col("__k").isNull().alias("resolved")))
