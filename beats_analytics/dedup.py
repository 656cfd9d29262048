"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Scale design (100 TB / 10^12 docs):

- **exact**: one hash-partitioned groupBy on the content digest —
  digests are uniform so there is no skew by construction; the shuffle
  carries only ``(digest, id)``, never the text.
- **MinHash+LSH**: signatures are computed map-side with higher-order
  array functions (no UDF, no shuffle); the only shuffle is the
  band-bucket self-join, whose key cardinality ≈ #docs × #bands with
  near-uniform buckets. Candidate pairs then get an exact Jaccard
  verification, also map-side per pair.
- **SimHash**: 60-bit signature map-side; near-dup candidates via
  banding the signature into chunks (same LSH trick) rather than an
  O(n²) Hamming scan.
- **n-gram Jaccard**: exploded shingle inverted-index join — the
  classic "similarity join via prefix sharing". At scale you keep the
  frequency cutoff (``max_doc_freq``) to drop stop-shingles, which is
  what bounds the join's fan-out.

Hashing uses md5 hex strings so a DuckDB oracle can reproduce results
bit-for-bit (lowercase hex on both engines); min() over hex strings is
min over the uniform 128-bit space, so MinHash statistics are intact.
"""

from __future__ import annotations

import hashlib
import re
from typing import Iterator, List, Optional

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T

from beats_spark.processors.decode import _spread

__all__ = [
    "banded_hamming_pairs",
    "tokens", "shingles", "word_ngrams", "containment_pairs", "dedup_exact",
    "exact_dup_groups",
    "minhash_signature", "minhash_signature_arrow", "minhash_lsh_pairs",
    "mirror_hosts",
    "ngram_jaccard_pairs", "ngram_jaccard_prefix_pairs", "simhash", "simhash_col", "simhash_pairs",
    "winnow_fingerprints", "winnow_pairs",
]


# ------------------------------------------------------------------ shingles

def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, empties removed (matches DuckDB
    ``string_split_regex(lower(x), '\\s+')`` modulo empty filtering)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def word_ngrams(text: Column, n: int) -> Column:
    """ALL word-``n``-gram occurrences in order (duplicates kept);
    [] when the doc has fewer than ``n`` tokens (NULL text → NULL for
    n=1, [] otherwise — matching the historical shingles contract).

    Construction is shift-and-zip: ``n`` length-aligned slices of the
    token array zipped into grams. The obvious spelling —
    ``transform(sequence(...), i -> array_join(slice(toks, i, n)))`` —
    references ``toks`` INSIDE the lambda, and higher-order functions
    never enter whole-stage codegen, so the tokenizer (itself a
    filter HOF) re-evaluated once per gram: O(len²) per document
    (measured 4.3 s → 1.3 s for the sf0.1 bigram explode+distinct).
    Here every ``toks`` reference is an argument expression evaluated
    once per row — O(n·len)."""
    toks = tokens(text)
    if n == 1:
        return toks
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for k in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, 1 + k, m),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return F.coalesce(grams, F.array().cast("array<string>"))


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word-``n``-gram shingles of ``text``
    (:func:`word_ngrams` deduplicated per document); [] when the doc
    has fewer than ``n`` tokens."""
    if n == 1:
        return F.array_distinct(tokens(text))
    # NULL text yielded [] under the old when/otherwise spelling
    # (n==1 keeps NULL, as before); downstream explodes rely on it
    return F.array_distinct(word_ngrams(text, n))


# ------------------------------------------------------------------- exact

def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per distinct content digest.

    Returns the deduplicated rows of ``df``. The winner choice is
    deterministic (min id), matching a ``row_number() = 1`` oracle.
    ``id_col`` must be a row key (unique): the survivor selection
    joins on (digest, id), so duplicated ids would keep every copy of
    the keeper pair. NULL text forms one dedup group (a non-NULL
    sentinel digest — a semi join on a NULL key would silently drop
    the whole group).

    Scale shape: the keep DECISION ships only (digest, id) pairs —
    32-byte keys — through the groupBy exchange; document text never
    enters it (the old ``Window.partitionBy(digest)`` spelling moved
    and sorted full rows). The survivors are then selected with a
    LEFT SEMI join on (digest, id): when the keeper set fits the
    broadcast threshold AQE plans a BroadcastHashJoin and the corpus
    side never shuffles at all; past it, the semi join shuffles rows
    once on the 32-byte key — never wider than the old window
    exchange, and without its full-row sort-by-digest spill risk."""
    # "__NULL__" cannot collide with md5 hex output
    digest = F.when(F.col(text_col).isNull(), F.lit("__NULL__")) \
              .otherwise(F.md5(F.col(text_col)))
    dg = df.withColumn("__digest", digest)
    keepers = (dg.select("__digest", id_col)
                 .groupBy("__digest")
                 .agg(F.min(id_col).alias(id_col)))
    return (dg.join(keepers, on=["__digest", id_col], how="left_semi")
              .drop("__digest"))


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Digest → (representative id, group size); only the shuffle of
    (digest, id) pairs, text never moves."""
    digest = F.md5(F.col(text_col)).alias("digest")
    return (df.select(digest, F.col(id_col))
              .groupBy("digest")
              .agg(F.min(id_col).alias("keeper"),
                   F.count(F.lit(1)).alias("n_dups")))


# ----------------------------------------------------------------- minhash

def minhash_signature(sh: Column, num_hashes: int = 16) -> Column:
    """MinHash signature as an array of ``num_hashes`` min-md5 hex
    strings. Seeded by prefixing the shingle with the hash index, so
    every engine with md5 reproduces it exactly.

    Pure-Column reference implementation (SQL-parity documentation);
    the hot path uses :func:`minhash_signature_arrow`, which computes
    the identical value — Catalyst's CollapseProject would otherwise
    inline this O(hashes×shingles) expression into every downstream
    use and recompute it per band."""
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    return F.transform(
        seeds,
        lambda s: F.array_min(
            F.transform(sh, lambda x: F.md5(F.concat(s.cast("string"),
                                                     F.lit(":"), x)))))


def minhash_signature_arrow(sh: Column, num_hashes: int = 16) -> Column:
    """Arrow-batched MinHash signature, byte-identical to
    :func:`minhash_signature`. The Python node doubles as a
    materialization barrier: the signature is computed exactly once
    however many band expressions slice it downstream."""
    prefixes = [f"{i}:".encode() for i in range(num_hashes)]

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _sig(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        md5 = hashlib.md5

        def one(shl):
            if shl is None or len(shl) == 0:
                return None
            enc = [x.encode() for x in shl]
            return [min(md5(p + x).hexdigest() for x in enc)
                    for p in prefixes]
        for s in it:
            yield s.map(one)

    return _sig(sh)


_WS_SPLIT = re.compile(r"\s+")


def _shingle_frame(df: DataFrame, id_col: str, text_col: str, n: int,
                   num_hashes: Optional[int] = None) -> DataFrame:
    """One fused Arrow pass: tokenize → n-gram shingles (distinct,
    first-occurrence order) → optional MinHash signature. Identical
    values to the Column-expression reference path (`shingles` /
    `minhash_signature`), ~50× faster than the interpreted
    higher-order-function chain, and a materialization barrier so
    nothing is recomputed per downstream band/explode. Rows with fewer
    than ``n`` tokens are dropped (same as ``filter(size(sh) > 0)``)."""
    schema = "id bigint, sh array<string>"
    if num_hashes:
        schema += ", sig array<string>"
        prefixes = [f"{i}:".encode() for i in range(num_hashes)]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            ids, shs, sigs = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = ([x for x in _WS_SPLIT.split(t.lower()) if x]
                        if t else [])
                if len(toks) < n:
                    continue
                grams = list(dict.fromkeys(
                    " ".join(toks[j:j + n])
                    for j in range(len(toks) - n + 1)))
                ids.append(i)
                shs.append(grams)
                if num_hashes:
                    enc = [g.encode() for g in grams]
                    sigs.append([min(md5(p + e).hexdigest() for e in enc)
                                 for p in prefixes])
            data = {"id": pd.array(ids, dtype="int64"), "sh": shs}
            if num_hashes:
                data["sig"] = sigs
            yield pd.DataFrame(data)

    return _spread(df.select(id_col, text_col)).mapInPandas(fn, schema)


def _band_buckets(sig: Column, bands: int, rows_per_band: int) -> Column:
    """array<(band, bucket)> — bucket is the md5 of the band's slice."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(F.array_join(
                F.slice(sig, b * rows_per_band + 1, rows_per_band), "|"))
             .alias("bucket")))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: Optional[float] = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash.

    Output: (id_a, id_b, jaccard) with id_a < id_b, one row per pair,
    ``jaccard`` the exact shingle Jaccard (verification step). With
    ``threshold`` set, pairs below it are dropped — the classic
    LSH-then-verify shape. 16 hashes / 4 bands ⇒ ~50% capture at
    J≈0.7, >95% at J≈0.9.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must divide evenly into bands")
    r = num_hashes // bands

    sig = _shingle_frame(df, id_col, text_col, n, num_hashes)
    base = sig.select("id", "sh")
    # candidate pairs shuffle only (id, band, bucket) — the shingle
    # arrays stay out of the join and the dedup, then re-attach for the
    # exact-Jaccard verification of the (much smaller) candidate set
    buckets = sig.select(
        "id", F.explode(_band_buckets(F.col("sig"), bands, r)).alias("bb"))
    a = buckets.select(F.col("id").alias("id_a"), "bb")
    b = buckets.select(F.col("id").alias("id_b"), "bb")
    pairs = (a.join(b, on="bb").filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b").distinct())
    sh_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = pairs.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = pairs.select(
        "id_a", "id_b",
        F.round(inter / union, 6).alias("jaccard"))
    if threshold is not None:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


# ----------------------------------------------------------- ngram jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """Exact n-gram-Jaccard similarity join via an inverted shingle
    index: explode distinct shingles, self-join on the shingle, count
    intersections, compute J = |∩| / (|A|+|B|-|∩|).

    ``max_doc_freq`` drops shingles shared by more than that many docs
    before the join — the stop-shingle cutoff that bounds fan-out at
    scale (a shingle in 10^6 docs would otherwise emit 10^12 pairs).
    """
    base = _shingle_frame(df, id_col, text_col, n)
    sizes = base.select("id", F.size("sh").alias("sz"))
    inv = base.select("id", F.explode("sh").alias("g"))
    if max_doc_freq is not None:
        keep = (inv.groupBy("g").count()
                   .filter(F.col("count") <= max_doc_freq).select("g"))
        inv = inv.join(keep, "g")
    a = inv.select(F.col("id").alias("id_a"), "g")
    b = inv.select(F.col("id").alias("id_b"), "g")
    inter = (a.join(b, "g").filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    j = (inter.join(sa, "id_a").join(sb, "id_b")
              .withColumn("jaccard", F.round(
                  F.col("inter") /
                  (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6)))
    return (j.filter(F.col("jaccard") >= threshold)
             .select("id_a", "id_b", "jaccard"))


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """DIRECTIONAL n-gram containment join: pairs ``(id_a, id_b)``
    where at least ``threshold`` of A's shingles also appear in B
    (``C(A→B) = |A∩B| / |A|``), both directions emitted separately.

    Jaccard misses the quotation/inclusion case this exists for: a
    short doc fully embedded in a long one has high containment but
    low Jaccard (the union is dominated by the long doc). This is the
    operator behind "drop pages that are mostly a quote of another
    page" and train/test contamination checks where the benchmark
    item is tiny relative to the web page containing it.

    Same inverted-index shape as :func:`ngram_jaccard_pairs` — the
    one join is on the shingle, the intersections aggregate on the
    (ordered) pair — and the same ``max_doc_freq`` stop-shingle
    cutoff bounds hot-shingle fan-out at scale. Emitted containment
    is rounded to 6 for cross-engine hashing. The shingle frame is
    ``localCheckpoint``-ed (three consumers would otherwise re-run
    the Arrow tokenize pass; same finding as the prefix join).
    """
    base = _shingle_frame(df, id_col, text_col, n).localCheckpoint()
    sizes = base.select("id", F.size("sh").alias("sz"))
    inv = base.select("id", F.explode("sh").alias("g"))
    if max_doc_freq is not None:
        keep = (inv.groupBy("g").count()
                   .filter(F.col("count") <= max_doc_freq).select("g"))
        inv = inv.join(keep, "g")
    a = inv.select(F.col("id").alias("id_a"), "g")
    b = inv.select(F.col("id").alias("id_b"), "g")
    inter = (a.join(b, "g").filter(F.col("id_a") != F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    c = F.col("inter") / F.col("sz_a")
    return (inter.join(sa, "id_a")
            .filter(c >= threshold)
            .select("id_a", "id_b", F.round(c, 6).alias("containment")))


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram-Jaccard join with PREFIX FILTERING (Chaudhuri et
    al. 2006; Xiao et al. 2008 "ppjoin"): identical output to
    :func:`ngram_jaccard_pairs`, but candidate generation only joins
    each document's PREFIX — its ``|s| - ⌈t·|s|⌉ + 1`` rarest
    shingles under a global (doc-frequency, shingle) order. The
    prefix-filtering lemma guarantees two sets with ``J ≥ t`` share
    at least one prefix token, so nothing is lost; an exact
    ``array_intersect`` verification on the candidates removes the
    rest.

    Why this is the scale path: the full inverted-index join fans out
    quadratically on hot shingles — ``ngram_jaccard_pairs`` caps that
    with ``max_doc_freq``, which silently DROPS pairs that only share
    stop-shingles. The prefix filter gets the same bound for free and
    stays EXACT: hot (high-df) shingles sort to the END of the global
    order, so they appear in almost no prefixes — the join key
    distribution is anti-skewed by construction. Also applies the
    ppjoin length filter (``min(|A|,|B|) ≥ ⌈t·max(|A|,|B|)⌉``)
    before the distinct. Plan shape: two linear shuffles (df join on
    shingle, prefix window on id), a self-join whose lists are prefix-
    bounded, then a verify that touches candidate pairs only.

    The shingle frame is ``localCheckpoint``-ed: six consumers
    reference it (freq, prefix build, both candidate sides, both
    verify sides) and without the barrier each one re-runs the Arrow
    tokenize pass over the full corpus (6 MapInPandas nodes in the
    plan; measured 8.3 → 6.2 s at sf0.1, and at 10^12 docs five
    redundant corpus scans vs one bounded local spill).
    """
    base = _shingle_frame(df, id_col, text_col, n).localCheckpoint()
    inv = base.select(
        "id", F.size("sh").alias("sz"), F.explode("sh").alias("g"))
    freq = inv.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "g")
    # ⌈t·sz⌉ in INTEGER arithmetic with t floored to micro-units:
    # the float spelling F.ceil(lit(t)*sz) rounds UP for inputs like
    # t=0.55, sz=100 (IEEE 0.55*100 = 55.000…01 → ceil 56), making
    # the prefix one token too short and SILENTLY dropping qualifying
    # pairs. Flooring t biases the other way only: prefixes get
    # longer or equal, never shorter — lossless by construction.
    t_micro = int(threshold * 1_000_000)
    prefix_len = (F.col("sz")
                  - F.expr(f"({t_micro} * sz + 999999) DIV 1000000")
                  + 1)
    pref = (inv.join(freq, "g")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= prefix_len)
            .select("id", "sz", "g"))
    a = pref.select(F.col("id").alias("id_a"),
                    F.col("sz").alias("sz_a"), "g")
    b = pref.select(F.col("id").alias("id_b"),
                    F.col("sz").alias("sz_b"), "g")
    cand = (a.join(b, "g")
            .filter((F.col("id_a") < F.col("id_b"))
                    & (F.least("sz_a", "sz_b")
                       >= F.expr(f"({t_micro} * greatest(sz_a, sz_b)"
                                 " + 999999) DIV 1000000")))
            .select("id_a", "id_b").distinct())
    fa = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    fb = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return (cand.join(fa, "id_a").join(fb, "id_b")
            .filter(jac >= threshold)
            .select("id_a", "id_b", F.round(jac, 6).alias("jaccard")))


# ----------------------------------------------------------------- simhash

_SIMHASH_BITS = 60  # 15 hex chars → fits signed int64 on every engine


def _token_hash(tok: Column) -> Column:
    """First 60 bits of md5 as a bigint — reproducible in any SQL
    engine as CAST('0x' || substr(md5(t),1,15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def simhash_col(text: Column) -> Column:
    """60-bit SimHash as a pure Column expression: per bit position,
    majority vote over the token hashes (ties → 0). This is the
    SQL-parity reference implementation — the 60 unrolled bit
    aggregates make a wide interpreted expression tree, so the hot
    path is :func:`simhash` (Arrow-batched, identical output)."""
    hs = F.transform(tokens(text), _token_hash)
    cnt = F.size(hs)

    def bit_adder(j: int):
        return lambda acc, h: acc + F.shiftright(h, j).bitwiseAND(F.lit(1))

    total = F.lit(0).cast("long")
    for j in range(_SIMHASH_BITS):
        ones = F.aggregate(hs, F.lit(0).cast("long"), bit_adder(j))
        total = total + F.when(ones * 2 > cnt,
                               F.lit(1 << j).cast("long")) \
                         .otherwise(F.lit(0).cast("long"))
    return total


_WS_RE = re.compile(r"\s+")


def simhash(text: Column) -> Column:
    """60-bit SimHash, Arrow-batched and numpy-vectorized per batch;
    byte-identical to :func:`simhash_col` (same md5-prefix token hash,
    same majority rule, null/empty → 0)."""

    @F.pandas_udf(T.LongType())
    def _sh(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        md5 = hashlib.md5
        jj = np.arange(_SIMHASH_BITS, dtype=np.int64)

        def one(t):
            if not t:
                return 0
            toks = [x for x in _WS_RE.split(t.lower()) if x]
            if not toks:
                return 0
            hs = np.fromiter(
                (int(md5(x.encode()).hexdigest()[:15], 16) for x in toks),
                dtype=np.int64, count=len(toks))
            ones = ((hs[:, None] >> jj) & 1).sum(axis=0)
            bits = (ones * 2 > len(hs)).astype(np.int64)
            return int((bits << jj).sum())
        for s in it:
            yield s.map(one)

    return _sh(text)


def banded_hamming_pairs(
    base: DataFrame,
    bits: int,
    max_hamming: int,
    chunks: int,
) -> DataFrame:
    """Pigeonhole-banded Hamming candidate join over a signature frame
    ``base`` with columns ``(id, sh)``: split the ``bits``-bit signature
    into ``chunks`` equal chunks; any pair within Hamming distance
    ``chunks-1`` shares ≥1 exact chunk, so candidates come from an
    equality join on (chunk index, chunk value) — no O(n²) scan. The
    only exchange carries (id, sh, chunk) = ~24 bytes/row × chunks;
    verification is an exact popcount filter, map-side."""
    if max_hamming > chunks - 1:
        raise ValueError(
            f"banding into {chunks} chunks only guarantees candidates up "
            f"to Hamming distance {chunks - 1}; raise `chunks` to at "
            f"least {max_hamming + 1} for max_hamming={max_hamming}")
    if bits % chunks:
        raise ValueError(f"chunks must divide {bits}")
    w = bits // chunks
    chunk_structs = [
        F.struct(F.lit(c).alias("c"),
                 F.shiftright(F.col("sh"), c * w)
                  .bitwiseAND(F.lit((1 << w) - 1)).alias("v"))
        for c in range(chunks)]
    chunked = base.select(
        "id", "sh", F.explode(F.array(*chunk_structs)).alias("ck"))
    a = chunked.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                       "ck")
    b = chunked.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                       "ck")
    cand = (a.join(b, "ck").filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sh_a", "sh_b").distinct())
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.withColumn("hamming", ham)
                .filter(F.col("hamming") <= max_hamming)
                .select("id_a", "id_b", "hamming"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 60-bit signature via
    :func:`banded_hamming_pairs` (pigeonhole candidates, exact popcount
    verify).

    Completeness bound: pairs at Hamming distance > ``chunks-1`` may
    share no chunk and would be silently missed — rejected explicitly
    instead (raise), so callers pick ``chunks`` ≥ max_hamming+1.
    """
    base = _spread(df).select(F.col(id_col).alias("id"),
                              simhash(F.col(text_col)).alias("sh"))
    return banded_hamming_pairs(base, _SIMHASH_BITS, max_hamming, chunks)


def dedup_against(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: "Optional[Column]" = None,
    within_batch: bool = True,
) -> DataFrame:
    """Incremental exact dedup: the rows of ``new_df`` (today's crawl
    batch) whose content digest does NOT already occur in ``seen_df``
    (the accumulated corpus). This is the ingestion-time form of
    :func:`dedup_exact` — the corpus is only ever read, never
    re-deduplicated.

    ``key`` overrides the dedup key (default ``md5(text_col)`` — the
    oracle-reproducible digest used across this module); pass e.g. a
    canonical-URL column for URL-keyed ingestion.

    ``within_batch=True`` (default) also removes duplicates INSIDE the
    new batch (keep min ``id_col``), so the output is directly
    appendable to the corpus without creating new duplicates —
    append-safety is the whole point of the operator.

    NULL keys (NULL text): the anti-join is null-rejecting, so
    null-key rows always pass the history check, but within-batch
    keep-min treats all of them as ONE group (one survivor per batch).
    Filter empty documents out first if that matters.

    Scale: the corpus side is cut to DISTINCT digests before the
    anti-join, so the join input is 32-byte keys — never documents —
    and both sides hash-partition on the digest (uniform by
    construction: no skew). With AQE's runtime bloom filter
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) Spark
    injects the bloom prefilter a hand-rolled design would add,
    keyed off the dedup join itself, pruning the new batch's scan
    before the shuffle.
    """
    k = key if key is not None else F.md5(F.col(text_col))
    new_keyed = new_df.withColumn("__k", k)
    seen_keys = (seen_df
                 .select((key if key is not None
                          else F.md5(F.col(text_col))).alias("__k"))
                 .distinct())
    fresh = new_keyed.join(seen_keys, "__k", "left_anti")
    if within_batch:
        w = Window.partitionBy("__k").orderBy(F.col(id_col))
        fresh = (fresh.withColumn("__rn", F.row_number().over(w))
                      .filter(F.col("__rn") == 1).drop("__rn"))
    return fresh.drop("__k")


_WINNOW_NORM = re.compile(r"[^a-z0-9]")


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every ``k``-char gram of
    the normalized text, slide a ``w``-hash window, keep each
    window's minimum (rightmost on ties), dedup. The selected
    ``(pos, fp)`` set is position-robust: any shared substring of at
    least ``k + w − 1`` chars is GUARANTEED to contribute a common
    fingerprint, which neither SimHash (global) nor MinHash-of-word-
    shingles (unordered) promises — the primitive for quote /
    plagiarism / license-text detection across a corpus.

    Normalization is ``lower`` then strip non-``[a-z0-9]``; grams are
    hashed with the repo's portable 60-bit md5-prefix trick
    (:func:`~beats_analytics.sample._priority60` spelling), so an
    external SQL engine replays the exact fingerprint set with list
    lambdas. Positions are 1-based over the normalized string.

    One fused Arrow kernel per doc (the `_shingle_frame` lesson:
    interpreted higher-order-function chains re-evaluate the hash
    array per window — this computes it once); zero shuffle, output
    rows ``(id, pos, fp)`` ready for a fingerprint-bucket join.
    Selected-fingerprint density is ~2/(w+1) per char, so the output
    is a bounded fraction of the input text.
    """
    if k < 1 or w < 1:
        raise ValueError("winnow_fingerprints: k and w must be >= 1")
    kk, ww = int(k), int(w)
    schema = f"{id_col} bigint, pos bigint, fp bigint"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            ids, poss, fps = [], [], []
            for did, t in zip(pdf[id_col], pdf[text_col]):
                s = _WINNOW_NORM.sub("", t.lower()) if t else ""
                m = len(s) - kk + 1
                if m < 1:
                    continue
                H = [int(md5(s[i:i + kk].encode()).hexdigest()[:15], 16)
                     for i in range(m)]
                seen = {}
                for j in range(max(m - ww + 1, 1)):
                    win = H[j:j + ww]
                    mn = min(win)
                    # rightmost tie = max matching index
                    pos = j + max(x for x, v in enumerate(win)
                                  if v == mn) + 1
                    seen[pos] = H[pos - 1]
                for p, v in seen.items():
                    ids.append(int(did))
                    poss.append(p)
                    fps.append(v)
            yield pd.DataFrame({
                id_col: pd.array(ids, dtype="int64"),
                "pos": pd.array(poss, dtype="int64"),
                "fp": pd.array(fps, dtype="int64")})

    return (_spread(df.select(id_col, text_col))
            .mapInPandas(fn, schema=schema))


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 10,
    max_fp_freq: int = 20,
) -> DataFrame:
    """Duplicate-passage pairs via winnowing: docs sharing at least
    ``min_shared`` distinct :func:`winnow_fingerprints` — catches
    copied passages/quotes that word-shingle Jaccard dilutes away in
    long documents (the pair shares a REGION, not the whole doc).

    Scale shape: the join key is the 60-bit fingerprint, so the only
    shuffles carry (id, fp) pairs — text never moves. Fingerprints in
    more than ``max_fp_freq`` docs (boilerplate/stop-passages) are
    dropped BEFORE the self-join, bounding per-key fan-out at
    ``max_fp_freq²`` — the same cap discipline as
    :func:`ngram_jaccard_pairs`' ``max_doc_freq``. The fingerprint
    frame is barrier'd once against its three consumers (the
    frequency filter and both join sides) so the Arrow kernel runs
    once, not three times.
    """
    fps = (winnow_fingerprints(df, id_col, text_col, k=k, w=w)
           .select(id_col, "fp").distinct()
           .localCheckpoint(eager=False))
    ok = (fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__n"))
          .filter(F.col("__n") <= int(max_fp_freq)).select("fp"))
    kept = fps.join(ok, "fp")
    a = kept.select(F.col(id_col).alias("id_a"), "fp")
    b = kept.select(F.col(id_col).alias("id_b"), "fp")
    return (a.join(b, "fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= int(min_shared)))


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (Manber's anchors, TR-94-10; the
    rsync / LBFS / FastCDC family): cut each document AFTER every
    ``k``-char gram whose 60-bit md5-prefix hash is ``0 mod
    divisor`` — so chunk boundaries are a function of LOCAL content
    only, and an insertion early in a page shifts at most one chunk
    instead of re-aligning every fixed-stride window. Expected chunk
    length is ~``divisor`` chars. This is the storage-dedup /
    delta-crawl primitive: re-crawled pages share every chunk except
    the ones an edit actually touched (contrast
    :func:`~beats_analytics.packing.chunk_tokens`, whose fixed
    stride re-aligns everything after an edit).

    Emits ``(id, chunk_id, start, n_chars, digest)`` — the chunk TEXT
    is hashed and dropped in the same projection, so nothing heavier
    than a 32-char digest survives the map stage. Boundary hashing is
    the stateless basic-CDC rule (no min/max clamp): every cut is
    decided by one gram in isolation, which is what makes the whole
    operator a zero-Python, map-only pipeline of STAGED projections
    (staging matters: Spark inlines higher-order-function arguments,
    so a one-expression spelling re-ran every gram md5 once per
    element_at reference — 94 s → 1.1 s at sf0.1 after materializing
    each array per row; the only exchange is :func:`_spread`'s
    small-input round-robin, a no-op at scale) — a min-size clamp
    would make cut ``j`` depend on cut ``j-1`` and force a
    sequential scan. Hash is the repo's portable 60-bit
    md5-prefix (same spelling as :func:`_token_hash`) so external SQL
    engines replay the exact cut set.

    Reference parity: beats has no chunker; this extends the dedup
    family (SURVEY §2 LLM-data ops) the same way winnowing does.
    """
    if k < 1 or divisor < 1:
        raise ValueError("cdc_chunks: k and divisor must be >= 1")
    kk, dd = int(k), int(divisor)
    s = F.coalesce(F.col(text_col), F.lit(""))
    m = F.length("__s") - kk + 1  # number of k-grams

    def gram_hash(i):
        return F.conv(
            F.substring(F.md5(F.substring(F.col("__s"), i, kk)), 1, 15),
            16, 10).cast("long")

    grams = F.when(m >= F.lit(1), F.sequence(F.lit(1), m)) \
             .otherwise(F.expr("array()").cast("array<int>"))
    # STAGED projections, not one nested expression: Spark inlines
    # higher-order-function arguments, so referencing the cuts array
    # from element_at would re-run every gram md5 once PER REFERENCE
    # (measured 94 s -> ~1 s at sf0.1; the _shingle_frame lesson).
    # Each stage materializes its array once per row; CollapseProject
    # keeps multi-referenced non-cheap aliases materialized.
    base = _spread(df).select(F.col(id_col), s.alias("__s"))
    # cut AFTER char i+k-1; i < m keeps the doc-final offset out so
    # the tail chunk is never empty
    with_cuts = base.select(
        id_col, "__s",
        F.filter(grams, lambda i: (F.pmod(gram_hash(i), F.lit(dd))
                                   == F.lit(0))
                 & (i < F.length("__s") - kk + 1)).alias("__cuts"))
    bounds = F.concat(
        F.array(F.lit(0).cast("long")),
        F.transform(F.col("__cuts"),
                    lambda i: (i + F.lit(kk - 1)).cast("long")),
        F.array(F.length("__s").cast("long")))
    with_b = with_cuts.select(id_col, "__s", bounds.alias("__b"))
    b = F.col("__b")
    idx = F.sequence(F.lit(1), F.size(b) - 1)
    chunk = F.transform(idx, lambda j: F.struct(
        (j - 1).cast("long").alias("chunk_id"),
        (F.element_at(b, j) + 1).alias("start"),
        (F.element_at(b, j + 1) - F.element_at(b, j)).alias("n_chars"),
        F.md5(F.substring(
            F.col("__s"), (F.element_at(b, j) + 1).cast("int"),
            (F.element_at(b, j + 1)
             - F.element_at(b, j)).cast("int"))).alias("digest")))
    return (with_b.select(id_col, F.explode(chunk).alias("__c"))
            .select(id_col, "__c.chunk_id", "__c.start", "__c.n_chars",
                    "__c.digest")
            .filter(F.col("n_chars") > 0))


def cdc_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    divisor: int = 64,
    min_copies: int = 2,
) -> DataFrame:
    """Cross-document duplicate-chunk ledger over :func:`cdc_chunks`:
    for every chunk digest stored ``min_copies``+ times, the copy
    count, distinct documents touched, chunk size, and the chars a
    content-addressed store would save (``(copies-1) * n_chars``) —
    the delta-crawl / storage-dedup report.

    Scale shape: the only exchange carries ``(digest, id, n_chars)``
    — 48-byte rows regardless of document size; chunk text was
    hashed away map-side by :func:`cdc_chunks`.
    """
    ch = cdc_chunks(df, id_col, text_col, k=k, divisor=divisor)
    return (ch.groupBy("digest")
            .agg(F.count(F.lit(1)).alias("n_copies"),
                 F.countDistinct(id_col).alias("n_docs"),
                 F.min("n_chars").alias("n_chars"))
            .filter(F.col("n_copies") >= int(min_copies))
            .withColumn("saved_chars",
                        (F.col("n_copies") - 1) * F.col("n_chars")))


def mirror_hosts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    max_hamming: int = 10,
    chunks: int = 12,
) -> DataFrame:
    """Mirror-site detection: cross-host concentration of near-dup
    pages. SimHash candidate pairs (:func:`simhash_pairs`) whose two
    sides live on DIFFERENT hosts are rolled up per unordered host
    pair, and each pair scores ``mirror_micro = round(1e6 · n_pairs /
    min(|A|, |B|))`` — the overlap coefficient in micro-units: a full
    mirror of the smaller site reads ≈1e6 however lopsided the sizes.
    Crawl curation drops or collapses high-scoring pairs (mirrors,
    CDNs, scraped republishing) BEFORE per-document dedup spends
    compute on them.

    Scale shape: inherits the banded simhash join (never all-pairs);
    the host lookups join on the id (broadcast-eligible per AQE), and
    the rollup shuffles (host_a, host_b) pairs — bytes, not pages.
    Only host pairs with at least one near-dup pair are emitted."""
    pairs = simhash_pairs(df, text_col=text_col, id_col=id_col,
                          max_hamming=max_hamming, chunks=chunks)
    src = df.select(F.col(id_col), F.col(domain_col))
    a = src.select(F.col(id_col).alias("id_a"),
                   F.col(domain_col).alias("__sa"))
    b = src.select(F.col(id_col).alias("id_b"),
                   F.col(domain_col).alias("__sb"))
    x = (pairs.join(a, "id_a").join(b, "id_b")
         .filter(F.col("__sa") != F.col("__sb"))
         .select(F.least("__sa", "__sb").alias("host_a"),
                 F.greatest("__sa", "__sb").alias("host_b")))
    agg = (x.groupBy("host_a", "host_b")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs")))
    sz = (df.groupBy(domain_col)
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    sa = sz.select(F.col(domain_col).alias("host_a"),
                   F.col("n_docs").alias("__na"))
    sb = sz.select(F.col(domain_col).alias("host_b"),
                   F.col("n_docs").alias("__nb"))
    return (agg.join(sa, "host_a").join(sb, "host_b")
            .select("host_a", "host_b", "n_pairs",
                    F.round(F.col("n_pairs").cast("double")
                            * 1_000_000.0
                            / F.least("__na", "__nb").cast("double"))
                     .cast("bigint").alias("mirror_micro")))
