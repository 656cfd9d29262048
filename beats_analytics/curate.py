"""End-to-end document curation: the training-data shape of the
shipper pipeline — filter → dedup → near-dedup → select, with
per-stage counters (the FineWeb/Gopher-style funnel).

Every stage is the engine's own operator (quality_score, exact dedup
window, MinHash+LSH pairs) composed lazily. With metrics on, the
quality-scored frame and the exact-dedup survivors are persisted so
the Arrow scoring kernel runs exactly once: the stage counts cost one
single-pass aggregation (total/quality/lang ride one scan of the
cached frame) plus one count per shuffling stage — never a re-run of
the scoring plan. (``observe()`` cannot carry these counters: the
survivor frame is referenced twice by the LSH candidate self-join, so
an upstream CollectMetrics node would fire once per branch and
double-count.) All decisions are deterministic (score thresholds on
exact arithmetic, min-id winners), so the entire funnel is
reproducible by a SQL oracle — the curated SET is checkable
row-for-row, not just counted.

Scale notes: stage order puts the cheap map-side quality filter before
anything that shuffles; exact dedup shuffles only (digest, id); the
near-dup stage runs on the already-thinned survivors and its LSH
candidate join is the only quadratic-risk step, bounded by banding.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import dedup_exact, minhash_lsh_pairs
from .textstats import text_stats_arrow

__all__ = ["curate", "CurationResult"]


@dataclass
class CurationResult:
    kept: DataFrame
    metrics: Dict[str, int] = field(default_factory=dict)
    _cached: List[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        """Release the frames persisted for metrics collection. Call
        after the final action on ``kept`` (they also back ``kept``'s
        plan, so dropping them earlier re-runs the scoring kernel)."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()


def curate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    min_quality: float = 0.65,
    langs: Optional[Sequence[str]] = None,
    near_dup_jaccard: Optional[float] = 0.12,
    minhash_hashes: int = 16,
    minhash_bands: int = 4,
    with_metrics: bool = True,
    near_dup_resolution: str = "pairs",
    max_dup_line_frac: Optional[float] = None,
    max_top2_char_frac: Optional[float] = None,
    min_lm_micro: Optional[int] = None,
    lm_model=None,
) -> CurationResult:
    """quality filter → language select → exact dedup → MinHash
    near-dedup.

    ``near_dup_resolution``:

    - ``"pairs"`` (default): keep the SMALLER id of every verified
      pair — deterministic, single anti-join, but chains over-drop
      (a~b, b~c drops both b and c even though a≁c);
    - ``"components"``: resolve clusters first (connected components
      over the pair graph, min-label propagation) and keep exactly
      ONE doc — the min id — per cluster (the FineWeb-style rule).

    ``max_dup_line_frac`` / ``max_top2_char_frac`` add the Gopher
    repetition gates (textstats.repetition_stats_arrow) to the
    map-side filter stage — still before anything shuffles.

    ``near_dup_jaccard=None`` skips the near-dedup stage entirely
    (quality → lang → exact dedup only) — the configuration for
    callers that RETAIN near-duplicates but confine them, e.g. the
    cluster-keyed split in :mod:`beats_analytics.export`.

    ``min_lm_micro`` adds the CCNet-style LM fluency gate
    (:mod:`beats_analytics.lm`) AFTER exact dedup: documents whose
    mean bigram log-probability (integer micro-nats) falls below the
    threshold drop. The model trains on the exact-dedup survivors
    themselves unless a frozen ``lm_model`` (a :func:`~beats_analytics
    .lm.bigram_model` tuple) is given. This is the one gate
    with corpus statistics behind it, so it runs after the cheap
    map-side filters and the digest dedup have thinned the data —
    and docs too short to score (< 2 tokens, NULL average) fail it,
    since fluency cannot be assessed.
    """
    metrics: Dict[str, int] = {}
    cached: List[DataFrame] = []

    # 1. quality (map-side, no shuffle). The repetition gates ride
    # the SAME fused Arrow kernel pass (iterator-form pandas UDFs
    # never share an ArrowEvalPython node, so a second kernel would
    # serialize the text to Python twice).
    gated = (max_dup_line_frac is not None
             or max_top2_char_frac is not None)
    st = text_stats_arrow(text_col, with_repetition=gated)
    scored = docs.withColumn("__s", st) \
                 .withColumn("__q", F.col("__s")["quality"])
    q_quality = F.col("__q") >= min_quality
    q_ok = q_quality
    if max_dup_line_frac is not None:
        q_ok = q_ok & (F.col("__s")["dup_line_frac"]
                       <= max_dup_line_frac)
    if max_top2_char_frac is not None:
        q_ok = q_ok & (F.col("__s")["top2_char_frac"]
                       <= max_top2_char_frac)
    rep_cols = ["__s"]
    if with_metrics:
        scored = scored.persist()
        cached.append(scored)
        # quality_kept counts the quality THRESHOLD alone so stage
        # drops stay attributable; with gates on, repetition_kept
        # counts quality AND the repetition gates
        aggs = [F.count(F.lit(1)).alias("total"),
                F.sum(q_quality.cast("int")).alias("quality_kept")]
        if gated:
            aggs.append(F.sum(q_ok.cast("int")).alias("repetition_kept"))
        if langs:
            aggs.append(F.sum((q_ok & F.col(lang_col).isin(*langs))
                              .cast("int")).alias("lang_kept"))
        row = scored.agg(*aggs).collect()[0]
        metrics["docs.total"] = int(row["total"])
        metrics["docs.quality_kept"] = int(row["quality_kept"])
        if gated:
            metrics["docs.repetition_kept"] = int(row["repetition_kept"])
        if langs:
            metrics["docs.lang_kept"] = int(row["lang_kept"])

    kept = scored.filter(q_ok)

    # 2. language selection (map-side)
    if langs:
        kept = kept.filter(F.col(lang_col).isin(*langs))

    # 3. exact dedup — dedup_exact's narrow shape: the keep decision
    # ships only (digest, id) pairs and survivors come back via LEFT
    # SEMI, so full text never rides the exchange (the old
    # Window.partitionBy(md5(text)) spelling here moved and sorted
    # full rows — caught by the wide_text_exchange plan-lint rule).
    # Winner rule unchanged: min id per digest, one NULL-text keeper.
    kept = dedup_exact(kept, text_col=text_col, id_col=id_col)
    if with_metrics:
        kept = kept.persist()
        cached.append(kept)
        metrics["docs.exact_kept"] = kept.count()

    # 3.5 optional LM fluency gate (the corpus-statistics stage: two
    # count shuffles inside lm_score; runs on the thinned survivors)
    if min_lm_micro is not None:
        from .lm import lm_score
        # persist the gate's input even without metrics: lm_score
        # references it four times (unigram/bigram counts, scoring,
        # base) and would otherwise re-run the quality kernel and the
        # exact-dedup shuffle per reference
        if not with_metrics:
            kept = kept.persist()
            cached.append(kept)
        sc = lm_score(kept.select(id_col, text_col), model=lm_model,
                      id_col=id_col, text_col=text_col)
        good = (sc.filter(F.col("avg_lp_micro") >= min_lm_micro)
                  .select(id_col))
        kept = kept.join(good, id_col, "left_semi")
        # the gated survivors feed the LSH candidate self-join twice
        kept = kept.persist()
        cached.append(kept)
        if with_metrics:
            metrics["docs.lm_kept"] = kept.count()

    # 4. near-dedup: verified MinHash pairs above the threshold; every
    # pair's larger id is dropped (both the pairs input and the
    # anti-join left read the persisted survivors — no recompute)
    if near_dup_jaccard is None:
        if with_metrics:
            last = metrics.get("docs.lm_kept", metrics["docs.exact_kept"])
            metrics["docs.near_dup_kept"] = last
            metrics["docs.dropped"] = metrics["docs.total"] - last
        return CurationResult(kept=kept.drop("__q", *rep_cols),
                              metrics=metrics, _cached=cached)
    pairs = minhash_lsh_pairs(
        kept, id_col=id_col, text_col=text_col,
        num_hashes=minhash_hashes, bands=minhash_bands,
        threshold=near_dup_jaccard)
    if near_dup_resolution == "components":
        from .components import connected_components
        labeled = connected_components(pairs, id_col=id_col,
                                       comp_col="__comp")
        losers = (labeled.filter(F.col(id_col) != F.col("__comp"))
                         .select(id_col))
    elif near_dup_resolution == "pairs":
        losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    else:
        raise ValueError(
            f"near_dup_resolution must be 'pairs' or 'components': "
            f"{near_dup_resolution!r}")
    kept = kept.join(losers, id_col, "left_anti")
    if with_metrics:
        metrics["docs.near_dup_kept"] = kept.count()
        metrics["docs.dropped"] = (metrics["docs.total"]
                                   - metrics["docs.near_dup_kept"])

    return CurationResult(kept=kept.drop("__q", *rep_cols),
                          metrics=metrics, _cached=cached)
