"""Benchmark decontamination: flag (or drop) training documents that
share word-n-grams with an evaluation set.

The standard practice for LLM training corpora (GPT-3 appendix C,
FineWeb, Dolma all ship a variant): any training document containing
an n-gram that also appears in a held-out benchmark is contaminated —
evaluating on that benchmark would partly measure memorization. The
usual n is 8–13 tokens; the match unit here is the same lowercased
whitespace token stream the dedup operators use
(:func:`beats_analytics.dedup.tokens`), so one tokenizer rules
the whole corpus-hygiene surface.

Scale design (100 TB training side, ~thousands-of-docs eval side):

- the EVAL side is tiny by construction (benchmarks are small) — its
  distinct gram set becomes one broadcast; the training side explodes
  grams map-side and probes the broadcast with a LEFT SEMI
  BroadcastHashJoin. No shuffle touches the text; the only exchange
  is the distinct over matching (id, gram) pairs, which carries ids
  and 64-bit gram hashes only.
- grams are compared as ``xxhash64`` of the gram text on BOTH sides,
  so the broadcast holds longs, not strings (a 13-gram averages ~80
  bytes; the hash is 8). A 64-bit collision mis-flags one document
  per ~10^19 gram pairs — harmless for a filter whose false-positive
  cost is dropping one training doc.
- ``min_matches=1`` (the common setting) short-circuits to the semi
  join; higher thresholds count DISTINCT matching grams per doc
  before filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import shingles

__all__ = ["contamination_flags", "decontaminate"]


def _gram_hashes(df: DataFrame, text_col: str, n: int):
    g = F.explode(shingles(F.col(text_col), n)).alias("__gram")
    return df.select("*", g).select(
        *df.columns, F.xxhash64("__gram").alias("__gh"))


def contamination_flags(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str | None = None,
    n: int = 8,
    min_matches: int = 1,
    flag_col: str = "contaminated",
    broadcast_flags: bool = True,
) -> DataFrame:
    """``docs`` + a boolean ``flag_col``: True where the document
    shares at least ``min_matches`` distinct word-``n``-grams with
    ``eval_docs``. Documents shorter than ``n`` tokens produce no
    grams and are never flagged (same convention as the eval side:
    a benchmark prompt shorter than ``n`` cannot contaminate).

    ``broadcast_flags`` (default True) broadcasts the contaminated-id
    set for the join that attaches the flag, so the docs table NEVER
    shuffles — contamination rates are a few percent of ids at most,
    and ids are tiny next to text. Set False only if the flagged set
    itself might not fit a broadcast (pathological overlap), at the
    cost of a full docs shuffle at scale."""
    eval_text_col = eval_text_col or text_col
    eval_grams = (eval_docs
                  .select(F.explode(shingles(F.col(eval_text_col), n))
                          .alias("__gram"))
                  .select(F.xxhash64("__gram").alias("__gh"))
                  .distinct())

    doc_grams = _gram_hashes(docs.select(id_col, text_col), text_col, n) \
        .select(id_col, "__gh")
    hits = doc_grams.join(F.broadcast(eval_grams), "__gh", "left_semi")
    if min_matches <= 1:
        bad = hits.select(id_col).distinct()
    else:
        bad = (hits.groupBy(id_col)
               .agg(F.countDistinct("__gh").alias("__m"))
               .filter(F.col("__m") >= min_matches)
               .select(id_col))
    bad = bad.withColumn(flag_col, F.lit(True))
    if broadcast_flags:
        bad = F.broadcast(bad)
    return (docs.join(bad, id_col, "left")
            .withColumn(flag_col,
                        F.coalesce(F.col(flag_col), F.lit(False))))


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    **kwargs,
) -> DataFrame:
    """The filtering form: ``docs`` minus every contaminated row
    (same options as :func:`contamination_flags`)."""
    flag_col = kwargs.get("flag_col", "contaminated")
    flagged = contamination_flags(docs, eval_docs, **kwargs)
    return flagged.filter(~F.col(flag_col)).drop(flag_col)
