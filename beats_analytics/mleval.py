"""Model-evaluation operators over logged data: calibration
(reliability bins + ECE) and inverse-propensity off-policy value.
Together with nDCG (terms.ndcg_at_k) and the A/B test (events.ab_test)
these are the readouts a training pipeline runs AFTER the curated
corpus produced a model — all in engine-exact integer fixed point so
two engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["auc_roc", "calibration_bins", "ips_value"]


def calibration_bins(
    df: DataFrame,
    prob_col: str = "p_micro",
    label_col: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error: bucket
    predictions by confidence (equal-width bins over [0, 10^6]),
    compare mean confidence to empirical accuracy per bin, and weight
    the gaps into the scalar ECE every model card reports.

    Fixed point: ``bin = min(p·n_bins div 10^6, n_bins−1)``;
    ``conf_micro = Σp div n``; ``acc_micro = (10^6·positives) div
    n``; ``ece_micro = (Σ_bins n_b·|conf_b − acc_b|) div N``. The
    ECE sum ``n_b·gap ≤ N·10^6`` needs N ≤ 9·10^12 rows — fine for
    any eval set (documented bound, not a silent overflow).

    Plan: one partial-combining groupBy on the bin id (≤ n_bins
    groups); the ECE scalar joins back broadcast from the one-row
    rollup so every bin row carries it. Output:
    ``(bin, n, conf_micro, acc_micro, ece_micro)``."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    p = F.col(prob_col).cast("long")
    y = F.col(label_col).cast("int")
    b = F.least(F.expr(f"({prob_col} * {int(n_bins)}) DIV 1000000"),
                F.lit(n_bins - 1)).cast("int")
    bins = (df.select(b.alias("bin"), p.alias("__p"), y.alias("__y"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.expr("sum(__p) DIV count(1)").alias("conf_micro"),
                 F.expr("(1000000 * sum(__y)) DIV count(1)")
                  .alias("acc_micro")))
    ece = bins.agg(
        F.expr("sum(n * abs(conf_micro - acc_micro)) DIV sum(n)")
         .cast("long").alias("ece_micro"))
    return bins.join(F.broadcast(ece))


def ips_value(
    df: DataFrame,
    action_col: str = "action",
    target_col: str = "target_action",
    propensity_col: str = "propensity_micro",
    reward_col: str = "reward_micro",
    weight_cap_micro: int = 100_000_000,
) -> DataFrame:
    """Inverse-propensity off-policy evaluation (Horvitz–Thompson):
    estimate what a TARGET policy would have earned from logs
    collected under a different policy —
    ``V̂ = (1/N)·Σ 1[a_i = π(x_i)]·r_i/p_i`` — plus the
    self-normalized (SNIPS) variant, which trades a little bias for
    much lower variance and is what production off-policy dashboards
    actually plot.

    Fixed point: per matching row ``w_micro = min(10^12 div p_micro,
    cap)`` (the weight clip is standard practice — an action logged
    at p=10^-6 would otherwise dominate the whole estimate);
    ``ips_micro = (Σ (w·r div 10^6)) div N``;
    ``snips_micro = (Σ (w·r div 10^6)) div (Σw div 10^6)`` —
    NULL when no rows match the target policy.

    Plan: a pure map-side projection + ONE global partial-combining
    aggregate; nothing keyed, nothing joined. Output one row:
    ``(n, n_matched, ips_micro, snips_micro)``."""
    if weight_cap_micro < 1_000_000:
        raise ValueError("weight_cap_micro must be >= 1e6 "
                         "(a cap below weight 1 discards exact logs)")
    match = (F.col(action_col) == F.col(target_col)).cast("int")
    w = F.least(F.expr(f"1000000000000 DIV {propensity_col}"),
                F.lit(int(weight_cap_micro))) * match
    wr = F.expr(f"__w * {reward_col} DIV 1000000")
    base = df.select(F.col(action_col), F.col(target_col),
                     F.col(reward_col), w.cast("long").alias("__w")) \
             .withColumn("__wr", wr.cast("long"))
    return base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("__w") > 0).cast("int")).cast("long")
         .alias("n_matched"),
        F.expr("sum(__wr) DIV count(1)").cast("long")
         .alias("ips_micro"),
        F.when(F.sum("__w") > 0,
               F.expr("sum(__wr) DIV greatest(1, sum(__w) DIV 1000000)"))
         .cast("long").alias("snips_micro"))


def auc_roc(
    df: DataFrame,
    score_col: str = "score_micro",
    label_col: str = "label",
) -> DataFrame:
    """EXACT ROC AUC with tie handling — the Mann-Whitney rank-sum
    identity ``AUC = (concordant + ties/2) / (n_pos·n_neg)`` computed
    in integer fixed point: ``auc_micro = ((2·concordant + tie_pairs)
    · 10^6) div (2·n_pos·n_neg)``. One row out: ``(n_pos, n_neg,
    auc_micro)``; ``auc_micro`` is NULL when either class is empty.

    Scale shape — never sorts the raw rows and never runs a
    partitionless window:

    1. one partial-combining groupBy on the score collapses the data
       to ``(score, n_pos_g, n_neg_g)`` — at most |score domain| rows
       (micro scores: ≤ 10^6 + 1) no matter the input size;
    2. :func:`beats_analytics.layout.global_prefix_sum` gives each
       score group the EXCLUSIVE count of negatives below it (range
       exchange + Arrow running sum over the tall-skinny group table —
       the same machinery as ``global_rank``, no single-task window);
    3. concordant pairs = Σ n_pos_g · cum_neg_below and tie pairs =
       Σ n_pos_g · n_neg_g fold in ONE scalar aggregate.

    Products are carried as DECIMAL(38,0): at 10^12 rows
    ``2 · concordant · 10^6`` reaches ~10^30, far past int64 but
    inside decimal-38 (and DuckDB's HUGEINT), so both engines agree
    bit-for-bit. Labels must be 0/1 after ``cast("int")``; NULL
    scores are rejected by the range exchange's total order
    (ascending NULLS FIRST) and count as the lowest score.
    """
    from .layout import global_prefix_sum

    y = F.col(label_col).cast("int")
    g = (df.select(F.col(score_col).alias("__s"), y.alias("__y"))
         .groupBy("__s")
         .agg(F.sum("__y").cast("long").alias("__np"),
              F.sum(1 - F.col("__y")).cast("long").alias("__nn")))
    cum = global_prefix_sum(g, order_by=["__s"], value_col="__nn",
                            out_col="__below")
    d38 = "decimal(38,0)"
    tot = cum.agg(
        F.sum("__np").cast("long").alias("n_pos"),
        F.sum("__nn").cast("long").alias("n_neg"),
        F.sum(F.expr(f"cast(__np as {d38}) * cast(__below as {d38})"))
         .cast(d38).alias("__conc"),
        F.sum(F.expr(f"cast(__np as {d38}) * cast(__nn as {d38})"))
         .cast(d38).alias("__ties"))
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.expr(f"cast((2 * __conc + __ties) * 1000000 as {d38}) DIV "
               f"cast(2 * cast(n_pos as {d38}) * cast(n_neg as {d38}) "
               f"as {d38})"))
    return tot.select("n_pos", "n_neg",
                      auc.cast("long").alias("auc_micro"))
