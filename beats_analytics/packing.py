"""Sequence packing: batching documents into fixed token-budget
training sequences.

LLM pre-training consumes fixed-length sequences; the packing step
decides which documents share a sequence. Two engine-native forms:

- :func:`pack_concat` — concat-and-split: documents are laid out in a
  deterministic order (``order_col``) and the token stream is cut
  every ``budget`` tokens, so a document can span two bins. Pure
  window cumsum — zero Python, one shuffle (the per-shard sort), and
  exactly reproducible in SQL, so it carries a full value oracle.
- :func:`pack_greedy` — greedy first-fit-in-order: a document that
  does not fit in the bin's remaining budget closes the bin and opens
  the next (documents never split; bins may be under-full). The
  bin id depends on a running remainder that resets — inherently
  sequential, so it runs as the same per-key Arrow scan shape as the
  token bucket (``applyInPandas`` per shard, parallel across shards)
  and its oracle is a recursive CTE.

Both shard by a caller column (e.g. the hash-split or a date) so the
sequential structure is per-shard and the job scales with shard
count; packing quality is unaffected because sequences never cross
shards anyway (a training shard is the natural packing boundary).

Documents longer than the budget: ``pack_concat`` splits them across
bins naturally; ``pack_greedy`` gives the oversized document its own
bin (first-fit degenerate case), matching common packers.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["chunk_tokens", "pack_concat", "pack_greedy",
           "passage_chunks"]


def pack_concat(
    df: DataFrame,
    budget: int,
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    shard_col: Optional[str] = None,
    bin_col: str = "bin",
    offset_col: str = "bin_offset",
) -> DataFrame:
    """Concat-and-split packing: bin = which budget-window the
    document STARTS in; ``offset_col`` = its start position inside
    that bin. One window cumsum, no Python."""
    parts = [shard_col] if shard_col else []
    w = (Window.partitionBy(*parts).orderBy(order_col)
         if parts else Window.orderBy(order_col))
    start = (F.sum(F.col(tokens_col)).over(
        w.rowsBetween(Window.unboundedPreceding, 0))
        - F.col(tokens_col))
    return df.withColumns({
        bin_col: F.floor(start / budget).cast("long"),
        offset_col: (start % budget).cast("long"),
    })


def pack_greedy(
    df: DataFrame,
    budget: int,
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    shard_col: Optional[str] = None,
    bin_col: str = "bin",
) -> DataFrame:
    """Greedy first-fit-in-order packing (documents never split).

    Per shard, documents are scanned in ``order_col`` order; a doc
    that exceeds the remaining budget closes the bin. Same
    sequential-scan execution shape as the token bucket: an
    ``applyInPandas`` per shard, parallel across shards."""
    from pyspark.sql import types as T
    # build a NEW StructType — StructType.add mutates in place, and
    # df.schema hands back the DataFrame's cached schema object, so
    # .add() would corrupt the INPUT frame's apparent columns
    schema_out = T.StructType(
        list(df.schema.fields) + [T.StructField(bin_col, T.LongType())])
    b = int(budget)

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        bins = []
        cur_bin, used = 0, 0
        for t in pdf[tokens_col].values:
            t = int(t) if t == t else 0  # NaN tokens count as 0
            if used > 0 and used + t > b:
                cur_bin += 1
                used = 0
            bins.append(cur_bin)
            used += t
        out = pdf.copy()
        out[bin_col] = pd.Series(bins, index=pdf.index, dtype="int64")
        return out

    grouped = (df.groupBy(shard_col) if shard_col
               else df.groupBy(F.lit(1)))
    return grouped.applyInPandas(scan, schema=schema_out)


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Split each document into overlapping token windows — the
    embedding/RAG preparation step (chunk size ``window`` tokens,
    hop ``stride``; overlap = window − stride). The inverse-ish of
    this module's packers: packing joins docs up to a budget,
    chunking cuts docs down to one.

    Chunk count per doc: 0 when the doc has no tokens, 1 when it fits
    one window, else ``1 + ceil((n − window)/stride)`` — evaluated as
    the pure-integer ``1 + (n − window + stride − 1) // stride`` so
    any SQL engine reproduces it. Chunk ``i`` covers tokens
    ``[1 + i·stride, i·stride + window]`` (1-based, clamped at the
    doc end — the final window may be short but every token lands in
    at least one chunk whenever stride ≤ window).

    Pure JVM array ops (tokens → sequence → slice → explode): zero
    Python, zero shuffle; the explode multiplies rows ~n/stride-fold,
    which is the output's own size — nothing is amplified beyond
    what gets emitted.

    Reference anchor: no beats analogue (delivery ends at whole
    events); curation-side extension surface.
    """
    if window < 1 or stride < 1:
        raise ValueError("chunk_tokens: window and stride must be >= 1")
    from .dedup import tokens
    toks = tokens(F.col(text_col))
    src = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    w, s = F.lit(int(window)), F.lit(int(stride))
    n_chunks = (F.when(n <= 0, F.lit(0))
                 .when(n <= w, F.lit(1))
                 .otherwise(F.lit(1) + (n - w + s - F.lit(1))
                            .cast("long") / s))
    # integer floor: operands positive, quotient < 2^53 — floor of
    # the double division equals the integer // (see readability)
    n_chunks = F.floor(n_chunks).cast("long")
    idx = F.when(n_chunks >= 1,
                 F.sequence(F.lit(0).cast("long"), n_chunks - 1)) \
           .otherwise(F.array().cast("array<long>"))
    out = (src.select(id_col, "__toks",
                      F.explode(idx).alias("chunk_id"))
           .select(id_col, "chunk_id",
                   F.slice(F.col("__toks"),
                           (F.col("chunk_id") * s + 1).cast("int"),
                           int(window)).alias("__c")))
    return out.select(id_col, "chunk_id",
                      F.size("__c").cast("long").alias("n_tokens"),
                      F.array_join("__c", " ").alias("chunk_text"))


def passage_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_chars: int = 200,
) -> DataFrame:
    """Sentence-aware passage chunking — the retrieval/RAG prep step
    that :func:`chunk_tokens` (fixed stride) can't do: passages never
    cut a sentence in half. Sentences (via
    :data:`~beats_analytics.textstats.SENTENCE_RE`) are assigned
    to passages by cumulative-length bucketing: sentence ``i`` joins
    bucket ``floor(chars_before_i / target_chars)`` where
    ``chars_before_i`` counts earlier sentences plus joining spaces.
    Every passage except possibly the last is ≥ ``target_chars`` only
    when a single sentence overflows it — i.e. passages end AT
    sentence boundaries at roughly ``target_chars`` pitch, and one
    giant sentence becomes one giant passage instead of being split
    mid-word (the documented semantics; greedy first-fit would differ
    only on the overflow sentence and costs a sequential fold).

    Emits ``(id, passage_id, n_sents, n_chars, passage)``; passage_id
    is 0-based dense per document. Pure JVM: segmentation, prefix
    sums, bucket grouping, and joins all happen inside one projection
    (O(sentences²) work per doc — tens of sentences, trivially
    map-side); rows multiply at one Generate, zero shuffle, zero
    Python. 100 TB of documents chunk at scan speed.
    """
    if target_chars < 1:
        raise ValueError("passage_chunks: target_chars must be >= 1")
    tc = int(target_chars)
    from .textstats import SENTENCE_RE
    raw = F.regexp_extract_all(F.coalesce(F.col(text_col), F.lit("")),
                               F.lit(SENTENCE_RE), F.lit(1))
    # STAGED projections (the cdc_chunks lesson): Spark inlines
    # higher-order-function arguments, so referencing the sentence /
    # bucket arrays from element_at inside later lambdas would
    # re-evaluate them once per reference — materialize each per row.
    s1 = df.select(
        F.col(id_col),
        F.filter(F.transform(raw, lambda x: F.trim(F.regexp_replace(
            x, r"[ \t\r\n]+", " "))), lambda x: x != "").alias("__S"))
    S = F.col("__S")
    n = F.size(S)
    lens = F.transform(S, lambda x: F.length(x) + 1)
    s2 = s1.select(id_col, "__S", lens.alias("__lens"),
                   F.when(n >= 1, F.sequence(F.lit(1), n))
                   .otherwise(F.expr("array()").cast("array<int>"))
                   .alias("__idx"))
    # chars before sentence i (1-based): sum of lens[0..i-2]
    bkt = F.transform(F.col("__idx"), lambda i: F.floor(F.aggregate(
        F.slice(F.col("__lens"), 1, (i - 1).cast("int")),
        F.lit(0).cast("long"), lambda a, x: a + x)
        .cast("long") / F.lit(tc)).cast("long"))
    s3 = s2.select(id_col, "__S", "__idx", bkt.alias("__bkt"))
    buckets = F.array_sort(F.array_distinct(F.col("__bkt")))
    s4 = s3.select(id_col, "__S", "__idx", "__bkt",
                   buckets.alias("__buckets"))

    def per_bucket(b: Column, pid: Column) -> Column:
        idxs = F.filter(F.col("__idx"),
                        lambda i: F.element_at(F.col("__bkt"),
                                               i.cast("int")) == b)
        txt = F.array_join(
            F.transform(idxs, lambda i: F.element_at(F.col("__S"),
                                                     i.cast("int"))),
            " ")
        return F.struct(pid.cast("long").alias("passage_id"),
                        F.size(idxs).cast("long").alias("n_sents"),
                        F.length(txt).cast("long").alias("n_chars"),
                        txt.alias("passage"))

    out = F.transform(F.col("__buckets"), per_bucket)
    return (s4.select(id_col, F.explode(out).alias("__p"))
            .select(id_col, "__p.passage_id", "__p.n_sents",
                    "__p.n_chars", "__p.passage")
            .filter(F.col("n_sents") > 0))
