"""BPE tokenizer training — the pair-merge learning loop as a Spark
plan.

Sennrich et al. (ACL'16) byte-pair encoding learns a tokenizer by
repeatedly merging the most frequent adjacent symbol pair. The classic
trainer runs over a *word-frequency dictionary*, not the corpus — and
that is exactly what makes it web-scale on Spark: one corpus-sized
explode+groupBy collapses 100 TB of text into a vocab-sized
(word, count) table, and every merge round after that touches only
that small frame. No reference-engine analog (beats ships token
*counting*, not tokenizer *training*); this is the LLM-pipeline
extension next to token_count / oov_rate.

Engine-exact by construction, and fully in-plan (zero driver
collects): each word's symbol sequence is rendered as a string where
every symbol carries its OWN leading and trailing space
(``' a  b  c  </w> '``), so applying merge (a, b) is the LITERAL
string replace ``' a  b ' -> ' ab '`` — left-to-right non-overlapping
replace is exactly BPE's greedy merge application, and the
double-space boundaries make a false match into a longer neighboring
symbol impossible. The per-round argmax pair is a 1-row frame
cross-joined back in (broadcast), so the learned merge never visits
the driver; the tie-break (count desc, then pair lexicographic) makes
the whole training run deterministic and replayable in SQL.

Plan shape: one shuffle for the word counts; per round, one
vocab-sized pair explode + partial-combining agg + TakeOrdered(1) +
broadcast cross join; the word table is ``localCheckpoint``-ed per
round (plan depth would double otherwise, as in graph.pagerank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import tokens

__all__ = ["bpe_encode", "bpe_merges"]

_PAIRS = """
CASE WHEN size(__toks) >= 2 THEN
  transform(sequence(1, size(__toks) - 1),
            i -> struct(__toks[i - 1] AS l, __toks[i] AS r))
ELSE array() END
"""


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    end_mark: str = "</w>",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus → one row per
    learned merge: ``(merge_round, left_sym, right_sym, pair_count)``.

    Words are lowercased whitespace tokens (:func:`~beats_analytics
    .dedup.tokens`); each word starts as its characters plus
    the ``end_mark`` word-boundary symbol (so merges can learn
    suffixes, per the paper). Fixed round count, no early stop: a
    deterministic budget replays bit-identically anywhere (same
    policy as :func:`~beats_analytics.graph.pagerank`). Rounds
    where every pair has vanished (vocab of 1-symbol words) emit no
    row — the output can be shorter than ``n_merges``.
    """
    if n_merges < 0:
        raise ValueError(f"bpe_merges: n_merges must be >= 0, "
                         f"got {n_merges}")
    if " " in end_mark or not end_mark:
        raise ValueError("bpe_merges: end_mark must be a non-empty "
                         f"space-free symbol, got {end_mark!r}")
    wc = (df.select(F.explode(tokens(F.col(text_col))).alias("__word"))
          .groupBy("__word")
          .agg(F.count(F.lit(1)).cast("bigint").alias("__cnt"))
          .select("__word", "__cnt",
                  F.concat(F.regexp_replace("__word", "(.)", " $1 "),
                           F.lit(f" {end_mark} ")).alias("__sym")))
    wc = wc.localCheckpoint(eager=True)
    bests: list[DataFrame] = []
    for rnd in range(1, n_merges + 1):
        pairs = (wc
                 .withColumn("__toks",
                             F.filter(F.split("__sym", " "),
                                      lambda x: x != ""))
                 .select(F.explode(F.expr(_PAIRS)).alias("__p"),
                         "__cnt")
                 .groupBy(F.col("__p.l").alias("left_sym"),
                          F.col("__p.r").alias("right_sym"))
                 .agg(F.sum("__cnt").alias("pair_count")))
        best = (pairs.orderBy(F.col("pair_count").desc(),
                              F.col("left_sym").asc(),
                              F.col("right_sym").asc())
                .limit(1)
                .select(F.lit(rnd).alias("merge_round"),
                        "left_sym", "right_sym", "pair_count"))
        best = best.localCheckpoint(eager=True)
        bests.append(best)
        pat = F.concat(F.lit(" "), F.col("left_sym"), F.lit("  "),
                       F.col("right_sym"), F.lit(" "))
        rep = F.concat(F.lit(" "), F.col("left_sym"),
                       F.col("right_sym"), F.lit(" "))
        wc = (wc.crossJoin(F.broadcast(
                  best.select("left_sym", "right_sym")))
              .select("__word", "__cnt",
                      F.replace("__sym", pat, rep).alias("__sym")))
        wc = wc.localCheckpoint(eager=True)
    if not bests:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], "merge_round int, left_sym string, right_sym string, "
                "pair_count bigint")
    out = bests[0]
    for b in bests[1:]:
        out = out.unionByName(b)
    return out


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    end_mark: str = "</w>",
) -> DataFrame:
    """Tokenize a corpus with a learned merge table (the apply half
    of :func:`bpe_merges`) → ``(id_col, n_bpe_tokens, bpe_text)``
    where ``bpe_text`` is the space-joined BPE token sequence.

    Scale shape — encode the *vocabulary*, not the corpus: distinct
    words encode once (each word folds the ordered merge list through
    the same literal-replace application as training, via the
    built-in higher-order ``aggregate`` — zero Python), then the
    corpus joins word → encoding and re-aggregates per document, so
    the per-document cost is a join + ordered string agg and the
    O(n_merges × string) fold runs vocab-many times, not
    corpus-many. The merge list rides in as ONE broadcast row
    (array of structs, sorted by round).

    Word boundaries are safe by construction: a learned merge's left
    symbol can never contain ``end_mark`` (training pairs are
    per-word, and the marker is word-final), so fold application
    cannot merge across words.
    """
    mrow = merges.agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("merge_round"), F.col("left_sym"),
            F.col("right_sym")))).alias("__ms"))
    words = (df.select(F.explode(tokens(F.col(text_col)))
                        .alias("__word")).distinct())
    sym0 = F.concat(F.regexp_replace("__word", "(.)", " $1 "),
                    F.lit(f" {end_mark} "))
    enc = (words.join(F.broadcast(mrow))
           .select("__word",
                   F.aggregate(
                       "__ms", sym0,
                       lambda acc, m: F.replace(
                           acc,
                           F.concat(F.lit(" "), m["left_sym"],
                                    F.lit("  "), m["right_sym"],
                                    F.lit(" ")),
                           F.concat(F.lit(" "), m["left_sym"],
                                    m["right_sym"], F.lit(" "))))
                    .alias("__enc")))
    enc = enc.select(
        "__word",
        F.filter(F.split("__enc", " "),
                 lambda x: x != "").alias("__toks"))
    occ = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("__pos", "__word"))
    per_doc = (occ.join(enc, "__word")
               .groupBy(id_col)
               .agg(F.sum(F.size("__toks")).cast("bigint")
                     .alias("n_bpe_tokens"),
                    F.concat_ws(" ", F.flatten(F.transform(
                        F.array_sort(F.collect_list(
                            F.struct(F.col("__pos"),
                                     F.col("__toks")))),
                        lambda s: s["__toks"]))).alias("bpe_text")))
    return (df.select(F.col(id_col)).distinct()
            .join(per_doc, id_col, "left")
            .select(id_col,
                    F.coalesce("n_bpe_tokens", F.lit(0).cast("bigint"))
                     .alias("n_bpe_tokens"),
                    F.coalesce("bpe_text", F.lit("")).alias("bpe_text")))
