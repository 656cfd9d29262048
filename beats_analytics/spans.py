"""Duplicate n-gram span statistics — the exact-substring dedup
signal of Lee et al., "Deduplicating Training Data Makes Language
Models Better" (2022), at token-n-gram granularity.

Document-level dedup (exact / MinHash / SimHash in
:mod:`beats_analytics.dedup`) misses PARTIAL duplication:
boilerplate paragraphs, licence blocks, and templated passages that
repeat across otherwise-distinct pages. The suffix-array approach of
the paper does not distribute naturally; the standard scalable
approximation is sliding token n-grams — a span duplicated anywhere
in the corpus necessarily duplicates all its n-grams, so per-document
"fraction of n-grams seen elsewhere" is a sound (slightly
over-counting at span edges) duplication measure, computed with two
hash shuffles and zero Python.

Plan shape:
  tokenize (map) → sliding n-grams via one ``transform`` over index
  ``sequence`` (map) → posexplode → window-count per n-gram key
  (shuffle 1, payload ``(key, doc_id)`` — documents never move whole)
  → re-aggregate per document (shuffle 2).

Skew: the hottest key is a boilerplate n-gram; the window count
streams its group (no ``collect_list``), so a 10^9-occurrence n-gram
costs one partition scan, not memory.

Keying: ``by_hash=True`` (default — the 100 TB path) shuffles the
64-bit ``xxhash64`` of each n-gram instead of the string, cutting the
shuffle payload several-fold; a hash collision merging two distinct
n-grams' counts is ~p²/2^65 for p distinct n-grams (≈1e-7 even at
10^9). ``by_hash=False`` shuffles the n-gram text itself — exact, and
what an external SQL oracle reproduces; a test pins both modes equal
on real data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .dedup import tokens, _spread

__all__ = ["ngram_duplicate_stats", "doc_ngrams",
           "remove_duplicate_spans"]


def doc_ngrams(text: Column, n: int) -> Column:
    """Sliding word-``n``-grams of ``text`` as an array of strings
    (space-joined lowercased tokens); empty array when the document
    has fewer than ``n`` tokens. One pass: the token split appears
    once in the expression tree."""
    toks = tokens(text)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    ).otherwise(F.array().cast("array<string>"))


def ngram_duplicate_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_count: int = 2,
    by_hash: bool = True,
) -> DataFrame:
    """Per-document duplicate-n-gram statistics:

    ``(id_col, n_ngrams, dup_ngrams, dup_frac)`` where ``dup_ngrams``
    counts this document's n-grams whose CORPUS-WIDE occurrence count
    (across all documents, including repeats within one document) is
    ≥ ``min_count``, and ``dup_frac = dup_ngrams / n_ngrams`` rounded
    to 6 (0.0 for documents shorter than ``n`` tokens — nothing to
    measure, not "all duplicate").

    Filter downstream on ``dup_frac`` (e.g. > 0.5 drops
    boilerplate-dominated pages) or join back for span removal.

    Documents shorter than ``n`` tokens still appear in the output
    (with zeros) WITHOUT a join-back: ``explode_outer`` emits one
    null-n-gram row for them, keyed per-document so the nulls never
    pile into one hot shuffle group, and the aggregates simply don't
    count null n-grams. Exactly two exchanges, no recomputation of
    the n-gram pipeline for the short-document branch (measured: the
    join-back variant re-ran the whole tokenize+explode a second
    time as the anti-join's build side).
    """
    ng = F.col("__ng")
    key = F.xxhash64(ng) if by_hash else ng
    # short docs: one row with __ng NULL; give it a per-doc group key
    # (0 for real n-gram rows) so the window never sees a hot null key
    exploded = (_spread(df)
                .select(F.col(id_col),
                        F.explode_outer(doc_ngrams(F.col(text_col), n))
                         .alias("__ng"))
                .select(id_col, ng,
                        key.alias("__k"),
                        # xxhash64 keys work for ANY id type — a cast
                        # of a string id to long would NULL out (or
                        # throw under ANSI), collapsing all short docs
                        # into one hot group
                        F.when(ng.isNull(), F.xxhash64(F.col(id_col)))
                         .otherwise(F.lit(0).cast("bigint"))
                         .alias("__short")))
    cnt = F.count("__ng").over(Window.partitionBy("__k", "__short"))
    return (exploded
            .withColumn("__c", cnt)
            .groupBy(id_col)
            .agg(F.count("__ng").alias("n_ngrams"),
                 F.coalesce(
                     F.sum(F.when(ng.isNotNull()
                                  & (F.col("__c") >= min_count), 1)
                            .cast("bigint")),
                     F.lit(0).cast("bigint")).alias("dup_ngrams"))
            .withColumn(
                "dup_frac",
                F.round(F.col("dup_ngrams")
                        / F.greatest(F.col("n_ngrams"), F.lit(1)), 6)))


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_count: int = 2,
    keep_first: bool = True,
    by_hash: bool = True,
) -> DataFrame:
    """The REMOVAL step of Lee et al. 2022 exact-substring dedup, at
    n-gram granularity: delete every token covered by a word-n-gram
    whose corpus-wide occurrence count is ≥ ``min_count``, keeping
    (with ``keep_first``) the globally first occurrence — smallest
    ``(doc_id, position)`` — of each such n-gram, so each duplicated
    span survives exactly once corpus-wide ("all but one occurrence",
    the paper's rule). ``keep_first=False`` removes every occurrence
    (the boilerplate-scrub variant).

    Returns ``(id_col, clean_text, n_tokens, removed_tokens)`` — one
    row per input document (short/empty docs pass through unchanged).
    ``clean_text`` is the space-joined surviving lowercased tokens:
    removal is defined at token granularity, so output whitespace is
    token-normalized (document this to consumers; the stats op
    :func:`ngram_duplicate_stats` shares the tokenizer).

    Plan: posexplode n-grams (map) → ONE window pass per n-gram key
    computing the group count and the first-occurrence rank together
    (shuffle 1, payload ``(doc_id, pos, key)``) → per-doc removed-span
    positions (shuffle 2) → join back to the input by ``id_col``
    (shuffle 3 — the spans frame is positions-only, tiny next to the
    documents side) → pure-column token surgery. Like the stats op,
    ``by_hash=True`` shuffles 64-bit xxhash64 keys instead of n-gram
    text. Per-doc surgery cost is O(tokens × removed spans) via the
    covered-index array — bounded, since removed spans ≤ n-grams ≤
    tokens.
    """
    ng = F.col("__ng")
    key = F.xxhash64(ng) if by_hash else ng
    occ = (_spread(df)
           .select(F.col(id_col),
                   F.posexplode(doc_ngrams(F.col(text_col), n))
                    .alias("__pos", "__ng"))
           .select(id_col, F.col("__pos"), key.alias("__k")))
    w = Window.partitionBy("__k").orderBy(F.col(id_col), F.col("__pos"))
    cnt = F.count(F.lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    rn = F.row_number().over(w)
    removed = (occ.withColumn("__c", cnt).withColumn("__rn", rn)
               .filter((F.col("__c") >= min_count)
                       & ((F.col("__rn") > 1) if keep_first else F.lit(True)))
               .groupBy(id_col)
               .agg(F.collect_set("__pos").alias("__spans")))

    out = df.join(removed, id_col, "left")
    toks = tokens(F.col(text_col))
    spans = F.coalesce(F.col("__spans"),
                       F.array().cast("array<int>"))
    covered = F.array_distinct(F.flatten(
        F.transform(spans, lambda p: F.sequence(p, p + F.lit(n - 1)))))
    idx = F.when(F.size(toks) > 0,
                 F.sequence(F.lit(0), F.size(toks) - 1)) \
           .otherwise(F.array().cast("array<int>"))
    # array_except is hash-based (O(tokens + covered), order of the
    # first argument preserved) — a per-token array_contains scan was
    # O(tokens × covered) and dominated the runtime on
    # heavily-duplicated corpora (measured 12.6 s → see PLANS.md)
    kept = F.array_except(idx, covered)
    clean = F.concat_ws(
        " ", F.transform(kept,
                         lambda i: F.element_at(toks,
                                                (i + 1).cast("int"))))
    # NULL text tokenizes to NULL: count it as an empty document (the
    # same contract as ngram_duplicate_stats), not a NULL stat row
    ntok = F.coalesce(F.size(toks), F.lit(0))
    return out.select(
        F.col(id_col),
        clean.alias("clean_text"),
        ntok.cast("bigint").alias("n_tokens"),
        (ntok - F.size(kept)).cast("bigint").alias("removed_tokens"))
