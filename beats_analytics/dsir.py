"""DSIR — Data Selection with Importance Resampling (Xie et al.
2023, arXiv:2302.03169): pick raw web documents that LOOK LIKE a
trusted target corpus by importance weights over hashed n-gram
features, the standard pretraining-data selection recipe.

The pipeline:

1. featurize every document as hashed unigram+bigram counts over
   ``buckets`` hash buckets (the paper's 10k-bucket default);
2. fit two bag-of-buckets models — target and raw — with Laplace
   smoothing, giving each bucket a log importance ratio
   ``lr(b) = ln(p_target(b) / p_raw(b))``;
3. score each raw document by the sum of its features' ratios
   (its log importance weight ``ln ŵ``);
4. resample via deterministic Gumbel top-k on the weights.

Exactness: like :mod:`beats_analytics.lm`, the ONE float step per
distinct bucket (``ln``) is quantized to integer micro-nats before
any cross-row aggregation, so document scores are integer sums an
external SQL engine reproduces bit-for-bit. The Gumbel noise is a
pure function of the document key (md5 bucket → uniform → Gumbel,
also micro-quantized), so the selected set is engine- and
partitioning-independent.

Scale: the feature space is ``buckets`` rows no matter the corpus
size, so the fitted model always collapses to one broadcast MAP
column; scoring folds each document's feature array through the map
entirely map-side (no explode, no shuffle — works unchanged on a
streaming frame with a frozen model); selection is
``orderBy().limit(k)`` which Spark executes as per-partition top-k
merged on the driver (TakeOrderedAndProject) — k rows cross the
wire, not the corpus.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator, Optional, Tuple

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import tokens, _spread
from .splits import split_bucket

__all__ = ["hashed_ngram_buckets", "hashed_ngram_buckets_arrow",
           "dsir_model", "dsir_score", "dsir_resample"]

# re.ASCII: Java's \s (the Spark split() this twins) is ASCII-only
# [ \t\n\x0B\f\r]; Python's default \s also matches Unicode whitespace
# (U+00A0, U+2028, ...), which would silently diverge bucket ids on
# such corpora
_WS_SPLIT = re.compile(r"\s+", re.ASCII)


def _feats_py(text: "str | None", buckets: int) -> list:
    """Python twin of :func:`hashed_ngram_buckets` — identical bucket
    ids (same tokenization precedent as ``dedup._shingle_frame``:
    lower → ``\\s+`` split → drop empties; unigrams then space-joined
    bigrams; 60-bit md5-hex bucket)."""
    toks = [x for x in _WS_SPLIT.split(text.lower()) if x] if text else []
    grams = toks + [toks[i] + " " + toks[i + 1]
                    for i in range(len(toks) - 1)]
    md5 = hashlib.md5
    return [int(md5(g.encode()).hexdigest()[:15], 16) % buckets
            for g in grams]

#: Gumbel-uniform granularity: a power of two so (b + 0.5) / G is an
#: exact double and both engines feed ln() the identical input.
_GUMBEL_G = 1 << 20


def hashed_ngram_buckets(text: Column, buckets: int = 10_000) -> Column:
    """Array of hashed-n-gram feature ids (unigrams + bigrams, md5
    60-bit bucket in ``[0, buckets)``) for one document. Bigrams are
    space-joined before hashing; tokens cannot contain whitespace, so
    the two families never collide in string space. Total: NULL text
    maps to the empty feature array (zero evidence), not NULL — so
    downstream folds score it 0 instead of poisoning the column."""
    toks = F.coalesce(tokens(text), F.array().cast("array<string>"))
    bis = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.concat(
                        F.element_at(toks, i), F.lit(" "),
                        F.element_at(toks, (i + 1).cast("int"))))
    ).otherwise(F.array().cast("array<string>"))
    return F.transform(F.concat(toks, bis),
                       lambda g: split_bucket(g, buckets))


def hashed_ngram_buckets_arrow(text: Column,
                               buckets: int = 10_000) -> Column:
    """Arrow-batched twin of :func:`hashed_ngram_buckets`, identical
    values. Same rationale as ``dedup.minhash_signature_arrow``: the
    per-gram md5 runs interpreted (never codegen) inside the
    higher-order ``transform``, measured ~6× slower than the C md5 in
    one vectorized Python node (7.8 s → 1.2 s warm at sf0.1)."""
    @F.pandas_udf("array<int>")
    def _f(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ser in it:
            yield ser.map(lambda t: _feats_py(t, buckets))
    return _f(text)


def _bucket_counts(df: DataFrame, text_col: str, buckets: int,
                   spread: bool = True) -> DataFrame:
    return ((_spread(df) if spread else df)
            .select(F.explode(hashed_ngram_buckets_arrow(
                F.col(text_col), buckets)).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("c")))


def dsir_model(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    buckets: int = 10_000,
    spread: bool = True,
) -> Tuple[DataFrame, DataFrame]:
    """Fit the importance-ratio table: returns ``(ratios, default)``.

    ``ratios`` is ``(bucket, lr_micro)`` for every bucket observed in
    EITHER corpus — at most ``buckets`` rows, so always broadcast-able
    regardless of corpus size. ``default`` is the one-row frame
    ``(lr0_micro)`` holding the ratio of a bucket unseen in both
    (the pure-smoothing limit) so scoring new batches is total.

    ``lr_micro = round(ln((c_t+1)(T_r+B) / ((c_r+1)(T_t+B))) · 1e6)``
    with Laplace(+1) smoothing over ``B = buckets`` — counts enter the
    float domain as exact doubles and multiply BEFORE dividing, in
    this fixed order, so an external engine writing the same
    expression reproduces every ratio bit-for-bit.

    ``spread=False`` skips the input re-spread on both corpora (for
    callers that already spread them — e.g. the self-fit path of
    :func:`dsir_resample`).
    """
    rc = _bucket_counts(raw, text_col, buckets, spread=spread)
    tc = _bucket_counts(target, text_col, buckets, spread=spread)
    # one-pass union aggregate instead of a full-outer join: the
    # combined table is <= buckets rows either way, but this shape is
    # a single hash agg (no sort, no join)
    both = (rc.select("bucket", F.col("c").alias("c_r"),
                      F.lit(0).cast("bigint").alias("c_t"))
            .unionByName(tc.select(
                "bucket", F.lit(0).cast("bigint").alias("c_r"),
                F.col("c").alias("c_t"))))
    counts = (both.groupBy("bucket")
              .agg(F.sum("c_r").alias("c_r"),
                   F.sum("c_t").alias("c_t")))
    # Materialize the bucket-count table once: ``ratios`` references
    # ``counts`` directly AND via ``totals``, and ``default`` via
    # ``totals`` again — without a lineage cut Catalyst re-evaluates
    # the whole fit subtree (two corpus explodes) three times, six
    # Generates per fit (VERDICT r3 plan audit). The table is at most
    # ``buckets`` rows, so the checkpoint is tiny and the fit's
    # explode runs exactly once per corpus.
    counts = counts.localCheckpoint()
    # coalesce: an EMPTY corpus (or two) still yields finite
    # pure-smoothing ratios instead of NULL-poisoning every score
    totals = counts.agg(
        (F.coalesce(F.sum("c_r"), F.lit(0)) + float(buckets))
        .cast("double").alias("trb"),
        (F.coalesce(F.sum("c_t"), F.lit(0)) + float(buckets))
        .cast("double").alias("ttb"))
    lr = F.log(
        ((F.col("c_t").cast("double") + 1.0) * F.col("trb"))
        / ((F.col("c_r").cast("double") + 1.0) * F.col("ttb")))
    ratios = (counts.join(F.broadcast(totals))
              .select("bucket",
                      F.round(lr * 1_000_000.0).cast("bigint")
                       .alias("lr_micro")))
    default = totals.select(
        F.round(F.log(F.col("trb") / F.col("ttb")) * 1_000_000.0)
         .cast("bigint").alias("lr0_micro"))
    return ratios, default


def dsir_score(
    df: DataFrame,
    model: Tuple[DataFrame, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 10_000,
    spread: bool = True,
) -> DataFrame:
    """Log importance weight per document: ``(id_col, n_feats,
    lr_micro)`` where ``lr_micro`` is the bigint sum of the document's
    feature ratios in micro-nats (higher = more target-like).
    ``buckets`` must match the model's. Empty documents score 0 over
    0 features (no evidence either way).

    Scale shape: the ratio table is at most ``buckets`` rows BY
    CONSTRUCTION, so it collapses to one bounded driver-side dict (the
    Python twin of a broadcast map column — the collect here is
    O(buckets), never O(corpus)) captured by ONE fused Arrow kernel
    that featurizes and folds in a single vectorized pass. Documents
    never explode, never shuffle, and the only exchange in a scoring
    run is whatever the caller does downstream. (The previous
    spelling — a broadcast map column folded with ``F.aggregate`` —
    had the same shape but ran interpreted per element: 3.9 s → 0.6 s
    at sf0.1 for the kernel.)

    Because scoring with a frozen model is stateless and map-side, it
    applies unchanged to a STREAMING frame (score documents as they
    are crawled); pass ``spread=False`` there — the batch-side
    input-re-spread is meaningless on a stream."""
    ratios, default = model
    lr = {r["bucket"]: r["lr_micro"] for r in ratios.collect()}
    lr0 = default.first()["lr0_micro"]

    @F.pandas_udf("struct<n_feats:bigint,lr_micro:bigint>")
    def _score(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        get = lr.get
        for ser in it:
            n_feats, totals = [], []
            for t in ser:
                fs = _feats_py(t, buckets)
                n_feats.append(len(fs))
                totals.append(sum(get(b, lr0) for b in fs))
            yield pd.DataFrame({"n_feats": pd.array(n_feats,
                                                    dtype="int64"),
                                "lr_micro": pd.array(totals,
                                                     dtype="int64")})

    src = _spread(df) if spread else df
    # alias the struct ONCE then extract fields — CollapseProject
    # keeps a non-cheap alias referenced twice (repo plan lesson)
    return (src.withColumn("__s", _score(F.col(text_col)))
               .select(F.col(id_col),
                       F.col("__s.n_feats").alias("n_feats"),
                       F.col("__s.lr_micro").alias("lr_micro")))


def gumbel_micro(key: Column, seed: str = "") -> Column:
    """Deterministic standard-Gumbel noise in micro-nats: md5 bucket
    of the seeded key → uniform ``(b + 0.5) / 2^20`` (never 0 or 1,
    exactly representable) → ``-ln(-ln(u))``, rounded to bigint."""
    b = split_bucket(F.concat(key.cast("string"), F.lit("#g"),
                              F.lit(seed)), _GUMBEL_G)
    u = (b.cast("double") + 0.5) / float(_GUMBEL_G)
    return (F.round(-F.log(-F.log(u)) * 1_000_000.0).cast("bigint"))


def dsir_resample(
    df: DataFrame,
    target: Optional[DataFrame] = None,
    k: int = 1000,
    model: Optional[Tuple[DataFrame, DataFrame]] = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 10_000,
    seed: str = "",
) -> DataFrame:
    """Select ``k`` documents from ``df`` by Gumbel top-k over the
    DSIR log importance weights — the paper's sampling-without-
    replacement: ``argtop_k(ln ŵ_i + g_i)`` with i.i.d. Gumbel
    ``g_i``, here a pure hash of the document key so the draw is
    reproducible across engines and partitionings.

    Pass ``target`` (the trusted corpus; raw = ``df``) or a pre-fit
    ``model`` from :func:`dsir_model`. Returns ``(id_col, n_feats,
    lr_micro, total_micro)`` for the selected set. Deterministic ties
    (same total) break by ``id_col`` ascending."""
    if (target is None) == (model is None):
        raise ValueError("dsir_resample: pass exactly one of "
                         "target / model")
    src = _spread(df)
    if model is None:
        # the self-fit path reuses the ONE spread frame for both the
        # model counts and the scoring fold (cf. lm_score — a second
        # _spread added a redundant full-text exchange)
        model = dsir_model(src, target, text_col=text_col,
                           buckets=buckets, spread=False)
    scored = dsir_score(src, model, id_col=id_col, text_col=text_col,
                        buckets=buckets, spread=False)
    out = scored.withColumn(
        "total_micro",
        (F.col("lr_micro") + gumbel_micro(F.col(id_col), seed))
        .cast("bigint"))
    return (out.orderBy(F.col("total_micro").desc(),
                        F.col(id_col).asc())
            .limit(k))
