"""Deterministic sampling for training-corpus construction.

Web crawls are power-law skewed by host: a handful of domains
contribute most pages, and training mixes routinely cap or
down-weight them. Spark's ``sample()`` is NOT reproducible across
runs/partitionings (per-partition RNG seeded by partition id — the
same hazard :mod:`beats_analytics.splits` documents for
``randomSplit``), so both operators here are pure functions of row
keys:

- :func:`cap_per_key` — keep at most ``k`` rows per key,
  deterministically ranked. One shuffle on the key; the row_number
  window streams each group, so a 10^8-page host costs a partition
  scan, not memory. This IS the skew treatment: the output is
  cap-bounded per key, so downstream stages see a flattened
  distribution.
- :func:`hash_sample` — Bernoulli(p) by md5-bucket of the key
  (:func:`~beats_analytics.splits.split_bucket`): zero shuffle,
  map-side, pushdown-safe, stable under repartitioning and engine
  changes, and consistent — the same key always samples the same way,
  so sampling documents by cluster/domain key keeps or drops whole
  groups together (the same leakage-control trick as hash_split).
  A ``seed`` string folds into the hashed key so independent samples
  draw from independent bucketings.
- :func:`token_budget_sample` / :func:`corpus_shuffle` — the
  corpus-ORDER pair: both treat md5(key) as a reproducible global
  shuffle order and decompose the defining single global window
  (prefix-sum cut / row_number rank) into per-bucket work via the
  priority's own top bits, so no corpus-sized data ever passes
  through a one-partition sort.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


__all__ = ["cap_per_key", "corpus_shuffle", "filter_sweep",
           "hash_sample",
           "priority_sample", "stratified_sample",
           "mixture_plan", "mixture_sample", "quantile_buckets",
           "token_budget_sample"]


def cap_per_key(
    df: DataFrame,
    key_col: str,
    k: int,
    order_by: Optional[Sequence[Column]] = None,
    keep_rank: bool = False,
) -> DataFrame:
    """At most ``k`` rows per ``key_col``, keeping the first ``k`` in
    ``order_by`` order. ``order_by`` is REQUIRED and must be a total
    order within each key group: ordering by the partition key alone
    would tie every row, making the survivors shuffle-order-dependent
    — silently breaking this module's determinism contract.
    ``keep_rank=True`` retains the 1-based rank as ``rank_in_key``
    for quota diagnostics."""
    if k < 1:
        raise ValueError(f"cap_per_key: k must be >= 1, got {k}")
    if not order_by:
        raise ValueError(
            "cap_per_key: order_by is required — pass a total order "
            "within each key group (e.g. a row id); without one the "
            "kept rows depend on shuffle arrival order")
    order = list(order_by)
    w = Window.partitionBy(key_col).orderBy(*order)
    out = df.withColumn("rank_in_key", F.row_number().over(w)) \
            .filter(F.col("rank_in_key") <= k)
    return out if keep_rank else out.drop("rank_in_key")


def _guarded_bucket(key_col: str, seed: str, granularity: int,
                    op: str) -> Column:
    """The shared deterministic-sampling predicate input: md5 bucket
    of the '#'-salted key, failing the job loudly on a NULL key (a
    null would otherwise silently vanish from every sample)."""
    return (_priority60(key_col, seed, op) % granularity).cast("int")


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: str = "",
    granularity: int = 1_000_000,
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose
    ``md5(key || '#' || seed)`` bucket (in ``[0, granularity)``)
    falls below ``fraction * granularity``. The realized rate
    converges to ``fraction`` with quantization error < 1/granularity.

    Null keys fail the job at scan time (a null key would silently
    vanish from every sample — the same guard as ``hash_split``)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"hash_sample: fraction must be in [0,1], "
                         f"got {fraction}")
    bucket = _guarded_bucket(key_col, seed, granularity, "hash_sample")
    bound = int(round(fraction * granularity))
    return df.filter(bucket < bound)


def mixture_plan(
    df: DataFrame,
    group_col: str,
    weights: Optional[dict] = None,
    temperature: Optional[float] = None,
    total_rows: Optional[int] = None,
    granularity: int = 1_000_000,
) -> DataFrame:
    """Per-group sampling plan for a target training mixture:
    ``(group, n_rows, share, keep_bound)``.

    Target proportions come from ``weights`` (group → relative
    weight; normalized internally; unlisted groups get share 0 and
    drop) or ``temperature`` (share_g ∝ count_g^temperature over the
    OBSERVED groups — the multilingual-sampling flattening rule;
    temperature 1 keeps natural proportions, 0 equalizes).

    The largest total consistent with the mixture without
    oversampling any group is ``T = min_g(count_g / share_g)``;
    ``total_rows`` caps it lower. Per-group keep fraction
    ``share_g·T / count_g`` becomes an integer md5-bucket bound
    (``floor(f·granularity)``) so the apply step is the deterministic
    zero-shuffle filter of :func:`hash_sample`. Every step after the
    one count aggregation is a scalar broadcast — no driver collect,
    so a high-cardinality ``group_col`` (per-domain mixes) stays
    distributed.

    A group named in ``weights`` but absent from the data makes the
    mixture unachievable at any size: T = 0 and the plan empties —
    the honest answer; cap with ``total_rows`` only after fixing the
    weights.

    NULL groups take no part in the mixture: in weights mode a NULL
    can never match a weight key; in temperature mode NULL-group rows
    are excluded from the observed counts (they could not be joined
    back by :func:`mixture_sample` anyway, and letting them depress T
    would silently shrink every real group's quota).
    """
    if (weights is None) == (temperature is None):
        raise ValueError("mixture_plan: pass exactly one of weights / "
                         "temperature")
    counts = df.groupBy(F.col(group_col).alias("group")) \
               .agg(F.count(F.lit(1)).alias("n_rows"))
    if weights is not None:
        if not weights or any(v < 0 for v in weights.values()) \
                or sum(weights.values()) <= 0:
            raise ValueError("weights must be non-empty, >= 0, and "
                             "sum to > 0")
        tot = float(sum(weights.values()))
        # shares ride the weights frame as a column (a per-key CASE
        # chain would grow the expression tree with the weight count);
        # re-seating counts on the weights frame also forces T = 0
        # when a weighted group has no rows
        wrows = df.sparkSession.createDataFrame(
            [(k, float(v) / tot) for k, v in weights.items()],
            ["group", "share"])
        scored = (wrows.join(counts, "group", "left")
                  .select("group",
                          F.coalesce("n_rows", F.lit(0).cast("bigint"))
                           .alias("n_rows"),
                          "share"))
    else:
        a = float(temperature)
        powed = (counts.filter(F.col("group").isNotNull())
                 .withColumn("__p", F.pow(F.col("n_rows")
                                          .cast("double"), a)))
        denom = powed.agg(F.sum("__p").alias("__d"))
        scored = (powed.join(F.broadcast(denom))
                  .withColumn("share", F.col("__p") / F.col("__d"))
                  .drop("__p", "__d"))
    scored = scored.filter(F.col("share") > 0)
    tmax = scored.agg(F.min(F.col("n_rows") / F.col("share"))
                      .alias("__t"))
    plan = scored.join(F.broadcast(tmax))
    t_eff = (F.least(F.col("__t"), F.lit(float(total_rows)))
             if total_rows is not None else F.col("__t"))
    frac = F.least(F.lit(1.0),
                   F.col("share") * t_eff
                   / F.greatest(F.col("n_rows").cast("double"),
                                F.lit(1.0)))
    return plan.select(
        "group", "n_rows", "share",
        F.floor(frac * granularity).cast("bigint").alias("keep_bound"))


def mixture_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weights: Optional[dict] = None,
    temperature: Optional[float] = None,
    total_rows: Optional[int] = None,
    seed: str = "",
    granularity: int = 1_000_000,
) -> DataFrame:
    """Deterministically sample ``df`` so group proportions match the
    target mixture (see :func:`mixture_plan`). The apply step is one
    broadcast join of the tiny plan plus the zero-shuffle md5-bucket
    predicate — same determinism contract as :func:`hash_sample`
    (repartition-stable, same key ⇒ same decision, seeds give
    independent draws)."""
    plan = mixture_plan(df, group_col, weights=weights,
                        temperature=temperature, total_rows=total_rows,
                        granularity=granularity)
    bucket = _guarded_bucket(key_col, seed, granularity,
                             "mixture_sample")
    return (df.join(F.broadcast(plan.select(
                F.col("group").alias(group_col), "keep_bound")),
                group_col)
              .filter(bucket < F.col("keep_bound"))
              .drop("keep_bound"))


def quantile_buckets(
    df: DataFrame,
    score_col: str,
    id_col: str,
    k: int = 3,
    by: Optional[str] = None,
    descending: bool = True,
    labels: Optional[Sequence[str]] = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Equal-population quantile buckets of ``score_col`` — the CCNet
    head/middle/tail split (terciles of LM score per language) in its
    general form: ``ntile(k)`` over ``(score, id)`` within each ``by``
    group. The ``id_col`` tie-break makes the assignment a pure
    function of the data (equal scores split deterministically);
    NULL scores sort last, landing in the worst bucket.

    ``labels`` (length ``k``) replaces bucket numbers 1..k with names,
    e.g. ``("head", "middle", "tail")``.

    One hash shuffle (on ``by``, or a single global sort when ``by``
    is None — use a group column at corpus scale); ntile streams each
    group.
    """
    if k < 1:
        raise ValueError(f"quantile_buckets: k must be >= 1, got {k}")
    if labels is not None and len(labels) != k:
        raise ValueError("quantile_buckets: len(labels) != k")
    score = (F.col(score_col).desc_nulls_last() if descending
             else F.col(score_col).asc_nulls_last())
    w = (Window.partitionBy(by) if by else Window.partitionBy()) \
        .orderBy(score, F.col(id_col).asc())
    out = df.withColumn(bucket_col, F.ntile(k).over(w))
    if labels is not None:
        out = out.withColumn(
            bucket_col,
            F.element_at(F.array(*[F.lit(x) for x in labels]),
                         F.col(bucket_col)))
    return out


def _priority60(key_col: str, seed: str, op: str) -> Column:
    """60-bit md5 priority of the '#'-salted key — the unreduced form
    of :func:`~beats_analytics.splits.split_bucket`'s portable
    hex trick, so any SQL engine reproduces the same total order.
    NULL keys fail loudly (same contract as :func:`hash_sample`)."""
    key = F.col(key_col)
    guard = F.assert_true(
        key.isNotNull(),
        F.lit(f"{op}: null {key_col} (filter or fill nulls first)"))
    salted = F.concat(key.cast("string"), F.lit("#"), F.lit(seed))
    h = F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")
    return F.when(guard.isNull(), h)


def _prefix_bucket(h: Column, n_buckets: int, op: str) -> Column:
    """Coarse bucket that is a PREFIX of the 60-bit priority order
    (top log2(n_buckets) bits), so sorting by bucket then priority
    equals sorting by priority alone. Power-of-two bucket counts keep
    the reduction an exact bit shift — no double rounding near
    boundaries."""
    if n_buckets < 2 or n_buckets & (n_buckets - 1):
        raise ValueError(f"{op}: n_buckets must be a power of two "
                         f">= 2, got {n_buckets}")
    return F.shiftright(h, 60 - n_buckets.bit_length() + 1)


def token_budget_sample(
    df: DataFrame,
    key_col: str,
    tokens_col: str,
    budget,
    seed: str = "",
    n_buckets: int = 4096,
    keep_cum: bool = False,
    by: Optional[str] = None,
) -> DataFrame:
    """Deterministic token-budget selection: order the corpus by the
    60-bit md5 priority of ``key_col`` (a reproducible pseudo-random
    permutation — the corpus-assembly step that draws "the first B
    tokens" of a shuffled corpus) and keep exactly the prefix whose
    running ``tokens_col`` total stays ``<= budget``. Equivalent to
    the single global window

        sum(tokens) OVER (ORDER BY h, key) <= budget

    but executed without a one-partition global sort:

    1. map-side: priority ``h`` + its top-bits bucket (zero shuffle);
    2. one aggregation: per-bucket token sums (``n_buckets`` rows);
    3. a driver-free cumulative sum over that tiny frame finds each
       bucket's exclusive prior total;
    4. buckets whose ``prior + sum <= budget`` pass whole — no
       per-row window; at most ONE boundary bucket (~1/n_buckets of
       the data) pays a within-bucket running sum to cut at the exact
       row.

    Rows at the same cumulative total as the budget are kept
    (``<=``), so zero-token rows immediately after the cut survive —
    exactly what the global-window definition says. ``tokens_col``
    must be non-negative and non-null (asserted at scan time: a NULL
    would silently poison the running sum); keys must be unique for
    the tie-break order ``(h, key)`` to be total. Determinism is
    engine-portable: the same md5 order reproduces in DuckDB/Trino,
    and re-running on a superset corpus keeps every previously
    selected doc whose priority still clears the cut.

    ``keep_cum=True`` retains the running total as ``cum_tokens``
    (boundary rows get the exact prefix sum; whole-kept buckets get
    NULL — computing it for them would reintroduce the per-row
    window this function exists to avoid).

    Per-group budgets — the training-mix "B_g tokens from source g"
    loop — via ``by`` (a group column) with ``budget`` either one int
    for every group or a mapping ``{group: budget}``; groups absent
    from the mapping are DROPPED (share 0, same contract as
    :func:`mixture_plan` weights), and each group gets its own
    independent priority-ordered prefix (PARTITION BY group in the
    defining window). The plan frame grows to groups × n_buckets rows
    and there is one boundary bucket PER GROUP; with a mapping the
    group count is small by construction, with a constant budget keep
    ``by`` low-cardinality (per-language / per-source, not per-URL).
    NULL groups fail loudly like NULL keys.

    Reference analogue: Beats has no corpus sampler; this serves the
    training-mix "token budget per source" loop (mixture weights ×
    budgets), composing with :func:`mixture_sample` upstream.
    """
    op = "token_budget_sample"
    from collections.abc import Mapping as _Mapping
    if isinstance(budget, _Mapping):
        if by is None:
            raise ValueError(f"{op}: a budget mapping requires by=")
        if not budget or any(int(v) < 0 for v in budget.values()):
            raise ValueError(f"{op}: budget mapping must be non-empty "
                             "with values >= 0")
    elif budget < 0:
        raise ValueError(f"{op}: budget must be >= 0, got {budget}")
    grp = [by] if by is not None else []
    toks = F.col(tokens_col)
    tguard = F.assert_true(
        toks.isNotNull() & (toks >= 0),
        F.lit(f"{op}: {tokens_col} must be non-null and >= 0"))
    h = _priority60(key_col, seed, op)
    base = (df.withColumn("__h", h)
              .withColumn("__t", F.when(tguard.isNull(),
                                        toks.cast("long")))
              .withColumn("__b", _prefix_bucket(F.col("__h"),
                                                n_buckets, op)))
    if by is not None:
        gguard = F.assert_true(
            F.col(by).isNotNull(),
            F.lit(f"{op}: null {by} (filter or fill nulls first)"))
        base = base.withColumn(by, F.when(gguard.isNull(), F.col(by)))
    # tiny frame: <= groups × n_buckets rows; the window partitions
    # by group (unpartitioned only in the global, no-by case)
    wcum = (Window.partitionBy(*grp).orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1))
    plan = (base.groupBy(*grp, "__b").agg(F.sum("__t").alias("__bt"))
            .withColumn("__prior",
                        F.coalesce(F.sum("__bt").over(wcum),
                                   F.lit(0).cast("long"))))
    if isinstance(budget, _Mapping):
        buddf = df.sparkSession.createDataFrame(
            [(k, int(v)) for k, v in budget.items()],
            [by, "__budget"])
        buddf = buddf.select(
            F.col(by).cast(df.schema[by].dataType).alias(by),
            F.col("__budget").cast("long"))
        # inner join: groups without a budget drop from the plan,
        # and with it every one of their rows
        plan = plan.join(F.broadcast(buddf), by)
    else:
        plan = plan.withColumn("__budget",
                               F.lit(int(budget)).cast("long"))
    joined = base.join(F.broadcast(plan), grp + ["__b"])
    lb = F.col("__budget")
    full = joined.filter(F.col("__prior") + F.col("__bt") <= lb)
    boundary = joined.filter(
        (F.col("__prior") <= lb)
        & (F.col("__prior") + F.col("__bt") > lb))
    wb = (Window.partitionBy(*grp, "__b")
          .orderBy(F.col("__h"), F.col(key_col))
          .rowsBetween(Window.unboundedPreceding, 0))
    # the running total lives in an internal column so an existing
    # user column named cum_tokens is never clobbered or union-skewed
    boundary = (boundary
                .withColumn("__cum",
                            F.col("__prior") + F.sum("__t").over(wb))
                .filter(F.col("__cum") <= lb))
    if keep_cum:
        if "cum_tokens" in df.columns:
            raise ValueError(
                f"{op}: keep_cum=True would overwrite the existing "
                "cum_tokens column — rename it first")
        full = full.withColumn("cum_tokens", F.lit(None).cast("long"))
        boundary = boundary.withColumn("cum_tokens", F.col("__cum"))
    boundary = boundary.drop("__cum")
    out = full.unionByName(boundary)
    return out.drop("__h", "__t", "__b", "__bt", "__prior",
                    "__budget")


def stratified_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n: int,
    seed: str = "",
    keep_rank: bool = False,
) -> DataFrame:
    """Exactly ``min(n, |group|)`` rows per group, deterministically:
    rank every row inside its group by the 60-bit md5 priority of its
    ``key_col`` (seeded — different seeds draw independent samples)
    and keep the first ``n``. The exact-count-per-stratum form of
    :func:`hash_sample` (which is Bernoulli and only converges to the
    rate): balanced eval sets, per-language pilot corpora, per-source
    debugging slices.

    One exchange (the group window); the per-group sort is the only
    per-row cost. The order is a pure function of (key, seed) —
    repartition-stable, engine-portable (same hex trick as every
    sampler here), and a row's membership can only change if the
    GROUP's population changes (smaller n → always a subset).
    NULL keys fail loudly (same contract as :func:`hash_sample`)."""
    if n < 1:
        raise ValueError(f"stratified_sample: n must be >= 1, got {n}")
    op = "stratified_sample"
    if "rank_in_key" in df.columns:
        raise ValueError(f"{op}: rename the existing rank_in_key "
                         "column first (used internally)")
    if keep_rank and "sample_rank" in df.columns:
        raise ValueError(f"{op}: keep_rank=True would duplicate the "
                         "existing sample_rank column — rename it")
    h = _priority60(key_col, seed, op)
    # the windowed cap IS cap_per_key with a priority order — one
    # implementation of rank-and-filter to maintain, not two
    out = cap_per_key(df, group_col, n,
                      order_by=[h.asc(), F.col(key_col).asc()],
                      keep_rank=True) \
        .withColumnRenamed("rank_in_key", "sample_rank")
    return out if keep_rank else out.drop("sample_rank")


def priority_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    n: int,
    by: Optional[str] = None,
    seed: str = "",
    keep_score: bool = False,
) -> DataFrame:
    """Weighted sampling without replacement: keep ``n`` rows (per
    ``by`` group when given) with inclusion probability proportional
    to ``weight_col`` — Efraimidis–Spirakis A-ES reservoir keys, made
    deterministic by replacing the RNG with the repo's 60-bit md5
    priority. A-ES keeps the ``n`` largest ``u^(1/w)``; ranked here
    through the order-isomorphic Gumbel-max form
    ``ln w − ln(−ln u)`` in INTEGER micro-nats (the
    ``dsir_resample`` discipline): ``u = (h mod 2^40 + 0.5) / 2^40``
    (never 0 or 1, exactly representable), each term rounded to
    micro-nats, summed as bigint, bytewise ``key_col`` tie-break.
    The earlier ``round(ln(u)/w, 6)`` spelling collapsed to 0.000000
    for realistic large weights (w ≳ 10^5 ties ~5% of all rows at the
    top score, handing membership to the lexicographic tie-break);
    micro-nats of the SUM keep ~10^7 distinct levels at every weight
    scale.

    The up-weighted rows this keeps are the quality-/length-biased
    draws training mixes want ("sample documents proportional to
    token count"), reproducible across runs, engines and
    repartitionings because the "randomness" is a pure function of
    (key, seed).

    Scale shape: per-group form is ONE exchange (the group window,
    same as :func:`stratified_sample`); the global form is
    ``ORDER BY … LIMIT n``, which Spark executes as
    TakeOrderedAndProject — per-partition top-``n`` then a driver
    merge of ``n × partitions`` score pairs, never a global sort.
    Weights must be positive and non-null (asserted in-plan: ln(0)
    is -inf and a NULL would silently rank first)."""
    if n < 1:
        raise ValueError(f"priority_sample: n must be >= 1, got {n}")
    op = "priority_sample"
    if "sample_score" in df.columns:
        raise ValueError(f"{op}: rename the existing sample_score "
                         "column first (used internally)")
    if by is not None and "__rk" in df.columns:
        raise ValueError(f"{op}: rename the existing __rk column "
                         "first (used internally)")
    w = F.col(weight_col)
    guard = F.assert_true(
        w.isNotNull() & (w > 0),
        F.lit(f"{op}: {weight_col} must be positive and non-null"))
    g = 1 << 40
    u = ((F.pmod(_priority60(key_col, seed, op), F.lit(g))
          .cast("double") + 0.5) / float(g))
    w_micro = F.round(F.log(w.cast("double")) * 1e6).cast("bigint")
    g_micro = F.round(-F.log(-F.log(u)) * 1e6).cast("bigint")
    score = F.when(guard.isNull(), w_micro + g_micro)
    scored = df.withColumn("sample_score", score)
    order = [F.col("sample_score").desc(), F.col(key_col).asc()]
    if by is not None:
        win = Window.partitionBy(by).orderBy(*order)
        out = (scored.withColumn("__rk", F.row_number().over(win))
               .filter(F.col("__rk") <= n).drop("__rk"))
    else:
        out = scored.orderBy(*order).limit(n)
    return out if keep_score else out.drop("sample_score")


def corpus_shuffle(
    df: DataFrame,
    key_col: str,
    seed: str = "",
    pos_col: str = "shuffle_pos",
    n_buckets: int = 4096,
) -> DataFrame:
    """Deterministic global shuffle order for training: assign each
    row its 1-based position in the md5-priority permutation of
    ``key_col`` — ``row_number() OVER (ORDER BY h, key)`` — without
    the single-partition global sort that window would cost.

    Distributed rank in three steps: map-side priority + top-bits
    bucket; one count-per-bucket aggregation (``n_buckets`` rows)
    whose exclusive cumulative sum gives each bucket's rank offset;
    then a per-bucket ``row_number`` window (``n_buckets`` parallel
    groups, each ~1/n_buckets of the data) plus the broadcast offset.
    Because the bucket is the priority's own top bits, bucket-major
    order IS priority order, so positions form the exact permutation
    1..n.

    The order is a pure function of (key, seed): stable under
    repartitioning and engine changes (md5 trick), different seeds
    give independent permutations, and epoch-N training order is just
    ``seed=f"epoch{n}"`` — no reshuffle materialization. Keys must be
    unique for positions to be (the ``(h, key)`` tie-break is total
    then); NULL keys fail loudly.

    Writers wanting physical order: ``repartitionByRange(pos_col)``
    + ``sortWithinPartitions(pos_col)`` before the sink gives
    sequential readers the shuffled order with only a range shuffle.
    """
    op = "corpus_shuffle"
    h = _priority60(key_col, seed, op)
    base = (df.withColumn("__h", h)
              .withColumn("__b", _prefix_bucket(F.col("__h"),
                                                n_buckets, op)))
    wcum = (Window.orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (base.groupBy("__b")
               .agg(F.count(F.lit(1)).alias("__n"))
               .withColumn("__off",
                           F.coalesce(F.sum("__n").over(wcum),
                                      F.lit(0).cast("long")))
               .select("__b", "__off"))
    wb = Window.partitionBy("__b").orderBy(F.col("__h"),
                                           F.col(key_col))
    return (base.join(F.broadcast(offsets), "__b")
            .withColumn(pos_col,
                        F.col("__off")
                        + F.row_number().over(wb).cast("long"))
            .drop("__h", "__b", "__off"))


def filter_sweep(
    df: DataFrame,
    score_col: str,
    thresholds: Sequence[int],
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Retention curve for a quality filter: for each candidate
    threshold, how many documents (and how much weight — tokens,
    bytes) survive ``score >= t``. This is the table a curation team
    reads before freezing a cutoff (the FineWeb/Gopher ablation
    loop's first artifact): too-aggressive thresholds show up as a
    cliff in retained tokens long before a training run would.

    ``thresholds`` are integers (micro-unit scores are the repo
    convention — float thresholds invite cross-engine drift).
    Returns one row per threshold: ``(threshold, docs_retained,
    weight_retained, docs_micro, weight_micro)`` with the micro
    columns exact integer fractions of the totals (SQL ``div``).
    NULL scores never survive any threshold (an unscored doc is not
    a high-quality doc); NULL weights count 0 toward retained weight
    but the doc still counts.

    ONE partial-combining global aggregate for ALL thresholds — a
    per-threshold ``filter().count()`` loop would scan the corpus
    ``len(thresholds)`` times; this scans once and ships
    ``2·len(thresholds)+2`` longs per map task. The per-threshold
    unpivot happens on the single aggregated row.
    """
    ts = [int(t) for t in thresholds]
    if not ts:
        raise ValueError("filter_sweep: thresholds must be non-empty")
    if len(set(ts)) != len(ts):
        raise ValueError("filter_sweep: duplicate thresholds")
    s = F.col(score_col)
    w = (F.coalesce(F.col(weight_col), F.lit(0)).cast("bigint")
         if weight_col else F.lit(1).cast("bigint"))
    aggs = [F.count(F.lit(1)).alias("__n"),
            F.sum(w).alias("__wn")]
    for j, t in enumerate(sorted(ts)):
        keep = s.isNotNull() & (s >= t)
        aggs += [F.sum(keep.cast("long")).alias(f"__d{j}"),
                 F.sum(F.when(keep, w).otherwise(0)).alias(f"__w{j}")]
    row = df.agg(*aggs)
    per_t = F.array(*[
        F.struct(F.lit(t).cast("bigint").alias("threshold"),
                 F.col(f"__d{j}").alias("docs_retained"),
                 F.col(f"__w{j}").alias("weight_retained"))
        for j, t in enumerate(sorted(ts))])
    flat = (row.select(F.col("__n").alias("__n"),
                       F.col("__wn").alias("__wn"),
                       F.explode(per_t).alias("r"))
            .select(F.col("r.threshold").alias("threshold"),
                    F.col("r.docs_retained").alias("docs_retained"),
                    F.col("r.weight_retained").alias("weight_retained"),
                    "__n", "__wn"))
    return flat.select(
        "threshold", "docs_retained", "weight_retained",
        F.expr("CASE WHEN __n > 0 THEN docs_retained * 1000000 div "
               "__n ELSE 0 END").alias("docs_micro"),
        F.expr("CASE WHEN __wn > 0 THEN weight_retained * 1000000 "
               "div __wn ELSE 0 END").alias("weight_micro"))
