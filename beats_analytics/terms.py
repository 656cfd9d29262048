"""Corpus term statistics: document frequency and TF-IDF-ranked
distinctive terms per corpus slice.

Training-mix curation wants "what is this slice ABOUT" summaries
(per-language, per-domain, per-source) and inputs for quality/topic
classifiers; TF-IDF against the whole corpus is the standard
first-order answer. Everything is DataFrame ops — explode, two hash
aggregations, a broadcast-sized join on the term dictionary slice
actually needed, and a streaming top-k window.

Plan shape (two shuffles + one join):
  tokenize (map) → explode (map) →
  ├─ per-(group, term) counts        (shuffle on (group, term))
  └─ per-term document frequency     (shuffle on term; partial
     distinct via (doc, term) pre-aggregation rides the same pass)
  → join on term → score → row_number top-k per group.

Skew: stopwords are the hot terms; both aggregations are partial
(map-side combine), so a term occurring 10^10 times arrives at the
reducer as one partial row per map task, never as raw rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import tokens, _spread

__all__ = ["bm25_topk", "collocations", "doc_frequency",
           "gazetteer_match",
           "inverted_index", "kwic_snippets", "ndcg_at_k", "percolate",
           "phrase_search", "rake_keywords", "sparse_cosine_pairs",
           "term_drift", "tfidf_top_terms", "trigram_grep",
           "with_percolator"]


def doc_frequency(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(term, doc_freq)``: number of distinct documents containing
    each lowercased whitespace term. ``array_distinct`` BEFORE the
    explode dedups within-document repeats map-side; the aggregation
    is ``count_distinct`` so a document re-ingested as duplicate
    ROWS still counts once (partial-deduped map-side, one logical
    exchange on term)."""
    return (_spread(df)
            .select(F.col(id_col),
                    F.explode(F.array_distinct(tokens(F.col(text_col))))
                     .alias("term"))
            .groupBy("term")
            .agg(F.count_distinct(F.col(id_col)).alias("doc_freq")))


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Posting lists: ``(term, doc_freq, postings)`` where postings is
    the ascending-sorted array of distinct document ids containing the
    lowercased whitespace term — the build step of a corpus search
    index (and the exact-containment side of contamination lookups).

    One shuffle on term; ``array_distinct`` before the explode dedups
    within-document repeats map-side. ``sort_array`` AFTER the
    collect makes the list order a pure function of the data (a
    ``collect_list`` alone observes shuffle arrival order — never let
    that escape an operator). ``max_df`` drops stopword-grade terms:
    at web scale the hottest term's posting list is ~every document,
    which no single reducer row should carry — real indexes shard or
    skip those; a curation-side index skips them (``min_df`` prunes
    the typo tail the same way)."""
    if max_df is not None and max_df < min_df:
        raise ValueError(f"inverted_index: max_df {max_df} < "
                         f"min_df {min_df}")
    # collect_SET (not list) dedups across duplicate doc_id rows
    # (re-ingested docs) inside the one groupBy — a separate
    # distinct() would add a second full shuffle of the exploded
    # pairs, the largest intermediate here; doc_freq = size(set)
    pairs = (_spread(df)
             .select(F.col(id_col),
                     F.explode(F.array_distinct(
                         tokens(F.col(text_col)))).alias("term")))
    out = (pairs.groupBy("term")
           .agg(F.sort_array(F.collect_set(F.col(id_col)))
                 .alias("postings"))
           .withColumn("doc_freq",
                       F.size("postings").cast("long"))
           .select("term", "doc_freq", "postings")
           .filter(F.col("doc_freq") >= min_df))
    if max_df is not None:
        out = out.filter(F.col("doc_freq") <= max_df)
    return out


def tfidf_top_terms(
    df: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_doc_freq: int = 1,
) -> DataFrame:
    """Top-``k`` distinctive terms per ``group_col`` slice:
    ``(group, term, term_count, doc_freq, tfidf, rank)``.

    ``tfidf = term_count_in_group * ln(N_docs / doc_freq)`` rounded to
    6 — the raw-count × smooth-less idf variant: simple, monotone in
    both factors, and exactly reproducible in any SQL engine (the
    rank is computed ON the rounded score with a bytewise term
    tie-break, so top-k membership cannot depend on float formatting).
    Terms in fewer than ``min_doc_freq`` documents are dropped before
    ranking (typo/token noise control).
    """
    spread = _spread(df)
    # N as an in-plan broadcast scalar (an eager .count() here would
    # run a surprise blocking job at construction time); the scan for
    # it is pruned to the id column
    nd = spread.agg(F.count_distinct(F.col(id_col)).cast("double")
                    .alias("__nd"))
    tf = (spread
          .select(F.col(group_col).alias("group"),
                  F.explode(tokens(F.col(text_col))).alias("term"))
          .groupBy("group", "term")
          .agg(F.count(F.lit(1)).alias("term_count")))
    dfreq = doc_frequency(df, id_col=id_col, text_col=text_col) \
        .filter(F.col("doc_freq") >= min_doc_freq)
    scored = (tf.join(dfreq, "term").join(F.broadcast(nd))
              .withColumn(
                  "tfidf",
                  F.round(F.col("term_count")
                          * F.log(F.col("__nd") / F.col("doc_freq")),
                          6))
              .drop("__nd"))
    w = Window.partitionBy("group").orderBy(
        F.col("tfidf").desc(), F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def phrase_search(
    df: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase search over a positional index: documents whose
    token stream contains ``phrase``'s tokens CONSECUTIVELY —
    ``(id, n_matches, first_pos)`` with 0-based token positions.

    The positional-index adjacency join every search engine runs:
    build ``(id, pos, term)`` postings, filter each phrase term's
    postings (term-selective — Catalyst pushes the IN filter to the
    index scan, so stopword-only postings never load for a rare-term
    phrase), shift term i's positions back by i, and intersect on
    ``(id, start)`` with k−1 equi-joins. A LIKE scan re-reads every
    document byte per query; the index route touches only the phrase
    terms' postings — at 10^12 docs that is the difference between a
    full-corpus pass and three posting-list reads.

    Matching is over whitespace tokens, lowercased (same
    normalization as :func:`inverted_index`); overlapping matches
    count (positions differ). The corpus is tokenized ONCE: the
    term filter reaches the scan, and the surviving postings frame
    is barrier'd before the k per-term filters fan out of it.
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase_search: empty phrase")
    index = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"))
    # ONE tokenize pass: filter to the phrase's terms first (the
    # selective predicate reaches the scan), then barrier the small
    # postings frame — k downstream per-term filters would otherwise
    # each re-scan and re-tokenize the full corpus
    postings = (index.filter(F.col("term").isin(terms))
                .localCheckpoint())
    starts = None
    for i, t in enumerate(terms):
        side = (postings.filter(F.col("term") == t)
                .select("id", (F.col("pos") - i).alias("start")))
        starts = side if starts is None else starts.join(
            side, ["id", "start"])
    return (starts.filter(F.col("start") >= 0)
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_matches"),
                 F.min("start").cast("int").alias("first_pos")))


def percolate(
    docs: DataFrame,
    stored: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    meta_col: str | None = "lang",
) -> DataFrame:
    """Reverse search (the Elasticsearch *percolator*,
    ``x-pack/.../percolator`` in the ES ecosystem beats ships into;
    conceptually the same match step as libbeat's output selectors,
    `libbeat/outputs/output_reg.go`, but with a TABLE of stored
    queries): match every document against every STORED query and
    return per-query match stats.

    ``stored`` is ``(query_id, lang, terms array<string>)`` — a doc
    matches when it contains ALL the query's terms (AND semantics)
    and, when the query's ``lang`` is non-null, its ``meta_col``
    equals it.

    Scale shape: the stored-query table is small by nature (alert
    rules, routing rules — thousands, not billions), so it is
    broadcast EXPLODED BY TERM; the 10^12-doc side contributes one
    row per DISTINCT token (``array_distinct`` before the explode,
    map-side), probes the broadcast by term, and the only exchange
    carries ``(doc_id, query_id)`` pairs for the AND-count — document
    text never shuffles. AND = ``count(matched terms) == n_terms``
    (both sides deduped, so plain count, no count_distinct).
    """
    from .dedup import _spread, tokens
    qx = (stored
          .select(F.col("query_id"),
                  F.col("lang").alias("__qlang"),
                  F.size(F.array_distinct("terms")).alias("__nt"),
                  F.explode(F.array_distinct("terms")).alias("term")))
    meta = (F.col(meta_col).alias("__dmeta") if meta_col
            else F.lit(None).cast("string").alias("__dmeta"))
    dt = (_spread(docs)
          .select(F.col(id_col).alias("__id"), meta,
                  F.explode(F.array_distinct(tokens(F.col(text_col))))
                   .alias("term")))
    hits = (dt.join(F.broadcast(qx), "term")
            .filter(F.col("__qlang").isNull()
                    | (F.col("__qlang") == F.col("__dmeta"))))
    matched = (hits.groupBy("__id", "query_id")
               .agg(F.count(F.lit(1)).alias("__hit"),
                    F.max("__nt").alias("__nt"))
               .filter(F.col("__hit") == F.col("__nt")))
    # per-query rollup joined back to the full stored table so
    # zero-match queries still report (n_docs = 0)
    per_q = (matched.groupBy("query_id")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.min("__id").alias("first_doc"),
                  F.max("__id").alias("last_doc")))
    return (stored.select("query_id")
            .join(F.broadcast(per_q), "query_id", "left")
            .select("query_id",
                    F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
                    "first_doc", "last_doc"))


def with_percolator(
    df: DataFrame,
    stored: "list[tuple[str, str | None, list[str]]]",
    text_col: str = "text",
    meta_col: str | None = "lang",
    out_col: str = "matched_queries",
) -> DataFrame:
    """The COMPILED percolator: the same stored-query semantics as
    :func:`percolate` (AND-of-terms, optional lang gate) burned into
    one codegen projection at plan-build time — the shape beats
    itself uses for config conditions (`libbeat/conditions/
    conditions.go` compiles once, evaluates per event). ``stored`` is
    a plain list of ``(query_id, lang_or_None, terms)``.

    Adds ``out_col``: the sorted array of matching query_ids per row.

    Trade vs the join form: the query set is fixed at plan time and
    lives in the plan (fine for config-driven alert rules; use
    :func:`percolate` when the rules are themselves a big table).
    In exchange this is ZERO-shuffle, ZERO-state map-side work —
    tokenize once, then pure array HOFs — which makes it legal in a
    Structured Streaming projection with no watermark and no
    stateful operator (see
    :func:`beats_analytics.streaming.stream_percolate`).
    """
    from .dedup import tokens
    if not stored:
        raise ValueError("with_percolator: empty stored-query list")
    toks = F.array_distinct(tokens(F.col(text_col)))
    meta = (F.col(meta_col) if meta_col
            else F.lit(None).cast("string"))
    qarr = F.array(*[
        F.struct(
            F.lit(qid).alias("q"),
            F.lit(lang).cast("string").alias("l"),
            F.array(*[F.lit(t) for t in
                      sorted({x.lower() for x in terms if x})])
             .alias("t"))
        for qid, lang, terms in stored])
    matched = F.array_sort(F.transform(
        F.filter(qarr, lambda s:
                 (s["l"].isNull() | (s["l"] == meta))
                 & F.forall(s["t"],
                            lambda term: F.array_contains(toks,
                                                          term))),
        lambda s: s["q"]))
    return df.withColumn(out_col, matched)


def bm25_topk(
    df: DataFrame,
    query_terms: "list[str]",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    tf_cap: int = 1023,
) -> DataFrame:
    """Top-``k`` documents for a term query under BM25
    (Robertson/Sparck Jones; the ranking function behind the
    Elasticsearch indexes beats feeds), in engine-exact fixed point:
    ``(doc_id, n_terms_hit, score_u12, rank)``.

    BM25 with k1=1.2, b=0.75 as pure integer arithmetic so two
    engines can agree bit-for-bit:

    - ``idf_micro = round(1e6 · ln((N − df + ½)/(df + ½) + 1))``
      (the Lucene non-negative variant; ln rounded to micro is the
      same cross-engine tolerance as tfidf's round-to-6),
    - ``tf_part = tf(k1+1) / (tf + k1(1 − b + b·dl/avgdl))``
      becomes ``(22·tf·A·10^6) div (10·tf·A + 3·A + 9·dl·1000)``
      with ``A = avgdl_milli = (Σdl·1000) div N`` — integer floor
      division, identical everywhere,
    - ``score_u12 = Σ_t idf_micro · tf_frac_micro`` (units 10^-12).

    Overflow guards (documented spec, not approximation): ``tf`` is
    capped at ``tf_cap`` (BM25 saturates in tf — at k1=1.2 the part
    is within 0.3% of its asymptote by tf=1000) and ``A`` at 4·10^8
    (avgdl ≤ 400k tokens), keeping the numerator under 2^63.

    Scale shape: the term filter hits the tokenize-explode map-side
    (only query-term postings survive), one exchange on
    ``(doc, term)`` for tf, a broadcast idf join (k terms), and the
    final top-k is ``orderBy().limit(k)`` — TakeOrderedAndProject,
    per-partition heaps, never a global sort.
    """
    from .dedup import _spread, tokens
    terms = sorted({t.lower() for t in query_terms if t})
    if not terms:
        raise ValueError("bm25_topk: empty query")
    toks = tokens(F.col(text_col))
    base = _spread(df).select(F.col(id_col).alias("id"),
                              F.size(toks).cast("long").alias("dl"),
                              toks.alias("__toks"))
    stats = base.agg(
        (F.lit(1000) * F.sum("dl")).cast("long").alias("__s"),
        F.count(F.lit(1)).cast("long").alias("__n"))
    stats = stats.select(
        F.least(F.expr("__s DIV __n"), F.lit(400_000_000))
         .alias("__a"),
        F.col("__n").cast("double").alias("__nd"))
    tf = (base.select("id", "dl", F.explode("__toks").alias("term"))
          .filter(F.col("term").isin(terms))
          .groupBy("id", "term")
          .agg(F.least(F.count(F.lit(1)), F.lit(tf_cap)).alias("tf"),
               F.max("dl").alias("dl"))
          # two consumers (idf agg + the score join) — barrier so the
          # corpus is tokenized once, not once per branch
          .localCheckpoint())
    idf = (tf.groupBy("term")
           .agg(F.count(F.lit(1)).cast("double").alias("__df"))
           .join(F.broadcast(stats))
           .select("term", "__a",
                   F.round(F.lit(1e6) * F.log(
                       (F.col("__nd") - F.col("__df") + 0.5)
                       / (F.col("__df") + 0.5) + 1.0))
                    .cast("long").alias("idf_micro")))
    part = (tf.join(F.broadcast(idf), "term")
            .withColumn(
                "__frac",
                F.expr("(22 * tf * __a * 1000000) DIV "
                       "(10 * tf * __a + 3 * __a + 9 * dl * 1000)"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("n_terms_hit"),
                 F.sum(F.col("idf_micro") * F.col("__frac"))
                  .alias("score_u12")))
    top = (part.orderBy(F.col("score_u12").desc(), F.col("id"))
           .limit(k))
    w = Window.orderBy(F.col("score_u12").desc(), F.col("id"))
    return (top.withColumn("rank", F.row_number().over(w).cast("int"))
            .select(F.col("id").alias(id_col), "n_terms_hit",
                    "score_u12", "rank"))


def ndcg_at_k(
    runs: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """nDCG@k retrieval evaluation (Järvelin & Kekäläinen) in
    engine-exact fixed point: per query,
    ``DCG = Σ_{r≤k} (2^rel − 1)/log2(r+1)`` over the retrieved
    ranking, ``IDCG`` the same over the ideal (rel-desc) ordering of
    judged-relevant docs, ``ndcg_micro = 10^6·DCG div IDCG``.

    Exactness: each per-position gain is rounded to integer
    micro-units FIRST, then summed — an integer sum is
    order-independent, where a float DCG sum would vary with partition
    order at scale. Queries with no positively-judged docs get
    ``idcg_micro = 0`` and NULL ndcg.

    Scale shape: ``runs`` is pre-filtered to rank ≤ k map-side (k rows
    per query survive the scan); ``qrels`` (human judgments — small by
    nature) joins broadcast; DCG/IDCG are single partial-combining
    groupBys on the query key; the final join is query-keyed. Nothing
    corpus-sized crosses an exchange.

    Output: ``(query, dcg_micro, idcg_micro, ndcg_micro)``.
    """
    q, i, r, g = query_col, id_col, rank_col, rel_col

    def gain(rel, rank):
        return F.round(
            F.lit(1e6) * (F.pow(F.lit(2.0), rel.cast("double")) - 1.0)
            / F.log2(rank.cast("double") + 1.0)).cast("long")

    hits = (runs.filter(F.col(r) <= k)
            .join(F.broadcast(qrels.select(q, i, g)), [q, i], "left")
            .withColumn("__g", gain(F.coalesce(F.col(g), F.lit(0)),
                                    F.col(r))))
    dcg = hits.groupBy(q).agg(F.sum("__g").alias("dcg_micro"))
    w = Window.partitionBy(q).orderBy(F.col(g).desc(), F.col(i))
    ideal = (qrels.filter(F.col(g) > 0)
             .withColumn("__ir", F.row_number().over(w))
             .filter(F.col("__ir") <= k)
             .withColumn("__ig", gain(F.col(g), F.col("__ir")))
             .groupBy(q).agg(F.sum("__ig").alias("idcg_micro")))
    out = (dcg.join(ideal, q, "left")
           .withColumn("idcg_micro",
                       F.coalesce(F.col("idcg_micro"), F.lit(0))
                        .cast("long")))
    return out.withColumn(
        "ndcg_micro",
        F.when(F.col("idcg_micro") > 0,
               F.expr("(1000000 * dcg_micro) DIV idcg_micro"))
         .cast("long"))


def trigram_grep(
    df: DataFrame,
    needle: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring search through a character-trigram index (the
    Google Code Search technique, Cox 2012 "Regular Expression
    Matching with a Trigram Index") → ``(id, n_matches)`` for every
    document containing ``needle``, with exact occurrence counts.

    Route: every document contributes its DISTINCT char trigrams
    (map-side); the needle's required trigram set filters them AT
    THE SCAN (a selective IN over ≤ len(needle)−2 values); documents
    holding ALL required trigrams are candidates (one exchange of
    (id, trigram-hit) pairs); candidates are verified with a real
    ``contains`` on their text via a semi join. A raw LIKE scan
    reads every byte of 100 TB per query; the trigram route reads
    the needle's posting lists and verifies a candidate sliver —
    same economics as :func:`phrase_search`, but for substrings that
    ignore token boundaries (partial words, punctuation, URLs).

    Exactness: candidate pruning can only FALSE-POSITIVE (every true
    match contains every required trigram), and the verify step
    removes those, so the result is byte-identical to the direct
    scan — the oracle IS the direct scan, checking the algorithm
    against an implementation-independent spelling. Matching is
    case-sensitive (byte semantics, like grep). ``n_matches`` counts
    possibly-overlapping occurrences non-overlappingly via
    replace-and-measure: ``(len(t) − len(replace(t, q))) / len(q)``.

    Needles shorter than 3 chars have no trigram to prune on —
    refused loudly rather than silently degrading to the full scan.
    """
    if len(needle) < 3:
        raise ValueError("trigram_grep: needle must be >= 3 chars "
                         "(no trigram to prune on — use a plain "
                         "contains filter for shorter needles)")
    req = sorted({needle[i:i + 3] for i in range(len(needle) - 2)})
    from .dedup import _spread
    docs = _spread(df).select(F.col(id_col).alias("id"),
                              F.col(text_col).alias("__t"))
    tri = docs.select(
        "id",
        F.explode(F.array_distinct(F.expr(
            "transform(sequence(1, greatest(length(__t) - 2, 0)),"
            " i -> substr(__t, i, 3))"))).alias("__g"))
    cand = (tri.filter(F.col("__g").isin(req))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("__hits"))
            .filter(F.col("__hits") == len(req))
            .select("id"))
    hits = docs.join(cand, "id", "left_semi")
    n = ((F.length("__t")
          - F.length(F.replace(F.col("__t"), F.lit(needle))))
         / len(needle)).cast("long")
    return (hits.withColumn("n_matches", n)
            .filter(F.col("n_matches") > 0)
            .select("id", "n_matches"))


def kwic_snippets(
    df: DataFrame,
    phrase: str,
    window: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keyword-in-context: every occurrence of ``phrase`` (consecutive
    lowercased whitespace tokens, same normalization as
    :func:`phrase_search`) with ``window`` tokens of context either
    side — ``(id, pos, snippet)``, one row per match, 0-based token
    position. The search-result-rendering step after
    :func:`bm25_topk`/:func:`phrase_search` rank.

    Where :func:`phrase_search` is the INDEX route (touch only the
    phrase terms' postings — right when matches are rare and the
    corpus is huge), this is the single-pass MAP route: positions and
    snippets come from one codegen projection over each document's
    own token array (``filter`` over candidate starts + a slice per
    hit) — zero shuffle, zero join, nothing but the matching rows
    leave the stage. Right when you already hold the ranked top-k
    docs or stream pages past a watch phrase.
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("kwic_snippets: empty phrase")
    if window < 0:
        raise ValueError(f"kwic_snippets: window must be >= 0, "
                         f"got {window}")
    from .dedup import tokens
    k = len(terms)
    parr = F.array(*[F.lit(t) for t in terms])
    toks = tokens(F.col(text_col))
    # guard: sequence(0, -1) DESCENDS in Spark, and slice(start=0)
    # throws — a doc shorter than the phrase must yield [] outright
    starts = F.when(
        F.size(toks) >= k,
        F.filter(F.sequence(F.lit(0), F.size(toks) - k),
                 lambda i: F.slice(toks, i + 1, k) == parr)
    ).otherwise(F.array().cast("array<int>"))
    hit = (df.select(F.col(id_col).alias("id"), toks.alias("__t"),
                     F.explode(starts).alias("pos")))
    lo = F.greatest(F.col("pos") - window, F.lit(0))
    ln = F.least(F.col("pos") + k + window, F.size("__t")) - lo
    return hit.select(
        "id", F.col("pos").cast("int").alias("pos"),
        F.array_join(F.slice("__t", lo + 1, ln), " ").alias("snippet"))


def term_drift(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 10,
) -> DataFrame:
    """Corpus drift between two snapshots as rising/falling terms:
    the top-``k`` terms by smoothed frequency-rate ratio in each
    direction — ``(term, n_old, n_new, score_micro, direction)``.
    What changed between last month's crawl and this one / which
    tokens are spiking in today's logs — the lightweight drift
    monitor run before retraining or re-mixing decisions.

    ``score_micro = ((n_new+1)·(N_old+1)·10^6) div
    ((n_old+1)·(N_new+1))`` — add-one-smoothed rate ratio (new terms
    don't divide by zero, corpus-size difference normalized away) as
    one BIGINT floor division, engine-exact. ``direction`` ∈
    rising/falling; falling terms are ranked by ascending score.
    ``min_count`` (on the combined count) drops the typo tail before
    ranking.

    Shape: two partial-combining term counts (one exchange each), a
    full-outer join on term, two scalar totals broadcast in-plan, and
    two TakeOrdered top-k readouts unioned — no global sort.
    """
    from .dedup import _spread, tokens

    def counts(df: DataFrame, out: str) -> DataFrame:
        return (_spread(df)
                .select(F.explode(tokens(F.col(text_col)))
                        .alias("term"))
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias(out)))

    co = counts(old, "n_old")
    cn = counts(new, "n_new")
    tot = (co.agg(F.sum("n_old").alias("__to"))
           .join(cn.agg(F.sum("n_new").alias("__tn"))))
    j = (co.join(cn, "term", "full_outer")
         .select("term",
                 F.coalesce("n_old", F.lit(0)).alias("n_old"),
                 F.coalesce("n_new", F.lit(0)).alias("n_new"))
         .filter(F.col("n_old") + F.col("n_new") >= min_count)
         .join(F.broadcast(tot))
         .withColumn(
             "score_micro",
             F.expr("((n_new + 1) * (__to + 1) * 1000000) DIV "
                    "((n_old + 1) * (__tn + 1))"))
         .select("term", "n_old", "n_new", "score_micro"))
    j = j.localCheckpoint()  # two top-k consumers
    rising = (j.orderBy(F.col("score_micro").desc(), "term").limit(k)
              .withColumn("direction", F.lit("rising")))
    falling = (j.orderBy(F.col("score_micro").asc(), "term").limit(k)
               .withColumn("direction", F.lit("falling")))
    return rising.unionAll(falling)


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` bigram collocations by LIFT:
    ``(w1, w2, n_pair, score_micro)`` where ``score_micro =
    (n_pair · N · 10^6) div (n_w1 · n_w2)`` — the association ratio
    ``P(xy)/(P(x)P(y))`` in integer micro-units (PMI without the log:
    the log is monotone, so the ranking is identical, and ``ln`` is
    the one piece libm renders differently across engines — integer
    DIV is exact everywhere, same trick as pagerank's micro-units).

    The collocation table is the classic corpus-exploration /
    tokenizer-merge-candidate signal (which word pairs behave as
    units). Shape: bigrams come from zipping each token array with
    its own tail — map-side, no self-join; then two partial-combining
    count aggs (stopword-hot keys arrive at reducers pre-combined),
    one join of bigram counts to the two unigram count sides, and a
    TakeOrdered readout. ``min_count`` drops the long noise tail
    before the join.
    """
    toks = tokens(F.col(text_col))
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")))
    bi = (df.select(F.explode(pairs).alias("p"))
          .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")))
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    uni = (df.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("n_w")))
    total = bc.agg(F.sum("n_pair").alias("n_total"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    scored = (bc.filter(F.col("n_pair") >= min_count)
              .join(u1, "w1").join(u2, "w2").crossJoin(total)
              .select(
                  "w1", "w2", "n_pair",
                  F.expr("(n_pair * n_total * 1000000) "
                         "DIV (n_w1 * n_w2)").alias("score_micro")))
    return (scored
            .orderBy(F.col("score_micro").desc(), "w1", "w2")
            .limit(k))


def sparse_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_doc_freq: "int | None" = None,
    ngram: int = 1,
) -> DataFrame:
    """Bag-of-words cosine similarity join over the inverted index:
    pairs ``(id_a, id_b, cosine)`` with ``cosine >= threshold``,
    computed on raw term-frequency vectors (``ngram`` > 1 switches
    the terms to word-n-grams).

    The sparse complement to the dense-embedding
    :func:`~beats_analytics.similarity.cosine_topk`: no model, no
    vectors to store — the inverted index IS the similarity
    structure. Dot products accumulate per shared term
    (``Σ tf_a·tf_b``, integer-exact); norms are ``sqrt(Σ tf²)`` —
    and sqrt, unlike ln/exp, is IEEE correctly-rounded, so the
    cosine is bit-reproducible across engines and the oracle checks
    the VALUES, not just the pairs.

    Scale shape: one (id, term, tf) aggregation (term keys are
    xxhash64 longs — identity is all the math reads, and 8-byte keys
    beat multi-word gram strings through every exchange; same trick
    as ngram_duplicate_stats), barrier'd against its four consumers,
    then the term-key self-join, a pair aggregation, and a map-side
    norm join. THE JOIN KEY MUST BE SPARSE: with unigram terms,
    'the' joins everything to everything — measured 129 s at sf0.1
    on a small-vocabulary corpus vs ~6 s with ``ngram=3``. Use
    ``ngram`` > 1 (df per term drops geometrically, the same reason
    every dedup join here shingles first) and/or ``max_doc_freq``.
    """
    if ngram < 1:
        raise ValueError(f"sparse_cosine_pairs: ngram must be >= 1, "
                         f"got {ngram}")
    from .spans import doc_ngrams
    terms = (doc_ngrams(F.col(text_col), ngram) if ngram > 1
             else tokens(F.col(text_col)))
    tf = (df.select(F.col(id_col).alias("id"),
                    F.explode(terms).alias("__t"))
          .select("id", F.xxhash64("__t").alias("term"))
          .groupBy("id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    if max_doc_freq is not None:
        keep = (tf.groupBy("term")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") <= max_doc_freq).select("term"))
        tf = tf.join(keep, "term")
    # four consumers (norms, both join sides, the df filter when set)
    tf = tf.localCheckpoint()
    norms = (tf.groupBy("id")
             .agg(F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("nrm")))
    a = tf.select(F.col("id").alias("id_a"), "term",
                  F.col("tf").alias("tf_a"))
    b = tf.select(F.col("id").alias("id_b"), "term",
                  F.col("tf").alias("tf_b"))
    dots = (a.join(b, "term")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot")))
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (dots.join(na, "id_a").join(nb, "id_b")
            .filter(cos >= threshold)
            .select("id_a", "id_b", F.round(cos, 6).alias("cosine")))


def rake_phrases(text, stopwords=None):
    """Column expr: RAKE candidate phrases of one document —
    lowercase, punctuation and stopwords become phrase breaks, each
    phrase a space-joined run of content words. Pure codegen."""
    from .textstats import STOPWORDS
    sw = list(STOPWORDS if stopwords is None else stopwords)
    brk = r"(?i)\b(?:" + "|".join(sw) + r")\b"
    s = F.lower(F.coalesce(text, F.lit("")))
    s = F.regexp_replace(s, r"[^a-z0-9 \t\n\x0B\f\r]", "|")
    s = F.regexp_replace(s, brk, "|")
    parts = F.split(s, r"\|")
    clean = F.transform(
        parts, lambda p: F.trim(F.regexp_replace(
            p, r"[ \t\n\x0B\f\r]+", " ")))
    return F.filter(clean, lambda p: p != "")


def rake_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords=None,
    top_k: int = 5,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents"): candidate phrases are the
    maximal runs of content words between stopwords/punctuation;
    each word scores ``degree/frequency`` within the document
    (degree = Σ length of phrases containing it — words that keep
    company with long phrases win); a phrase scores the sum of its
    words. The standard zero-training keyphrase extractor for corpus
    summarization / topic tagging at crawl scale.

    Integer-exact across engines: word scores live in **micro-units**
    (``degree * 1_000_000 // freq`` — the repo's PageRank/LM
    discipline; float division sums in partition order and never
    reproduces bit-for-bit). Returns the ``top_k`` phrases per
    document by ``(score desc, phrase)`` with dense ranks — the
    tie-break is total, so rank assignment is deterministic.

    Plan: phrase split is pure codegen; then two hash exchanges on
    ``(id, word)`` (word stats, then the word→phrase score join — a
    per-document self-join, NOT corpus-global) and one on ``(id,
    phrase)``; the final top-k is a single window over (id). All
    aggregations partial; nothing wider than a phrase string crosses
    an exchange.
    """
    ph = (_spread(df).select(F.col(id_col),
                             F.posexplode(rake_phrases(F.col(text_col),
                                                       stopwords))
                             .alias("__pid", "phrase")))
    w = ph.select(id_col, "__pid", "phrase",
                  F.explode(F.split(F.col("phrase"), " "))
                  .alias("word"),
                  F.size(F.split(F.col("phrase"), " ")).alias("__len"))
    ws = (w.groupBy(id_col, "word")
          .agg(F.count(F.lit(1)).alias("__freq"),
               F.sum("__len").alias("__deg"))
          .withColumn("__wscore",
                      F.expr("(__deg * 1000000) div __freq")))
    # duplicate phrase instances score identically (word stats are
    # document-level), so the distinct-phrase score is max = any
    scored = (w.join(ws, [id_col, "word"])
              .groupBy(id_col, "__pid", "phrase")
              .agg(F.sum("__wscore").alias("score_micro"))
              .groupBy(id_col, "phrase")
              .agg(F.max("score_micro").alias("score_micro")))
    rn = F.row_number().over(
        Window.partitionBy(id_col)
        .orderBy(F.col("score_micro").desc(), F.col("phrase")))
    return (scored.withColumn("rank", rn)
            .filter(F.col("rank") <= int(top_k))
            .select(id_col, "phrase", "score_micro",
                    F.col("rank").cast("long").alias("rank")))


def gazetteer_match(
    df: DataFrame,
    entities,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_ngram: int = 3,
    longest_only: bool = True,
) -> DataFrame:
    """Dictionary NER (gazetteer matching) at corpus scale: find every
    occurrence of a known-entity phrase (product names, org names,
    tickers, drug names — the lists enrichment pipelines actually
    have) as ``(doc, token position, entity, label)`` rows.

    ``entities`` is an iterable of ``(entity, label)`` pairs or a
    DataFrame with ``entity``/``label`` columns. Matching is
    token-exact after the same lowercase non-alphanumeric
    tokenization the blocklist gate uses (word-boundary-safe, never a
    substring test), so entity phrases must be 1..``max_ngram``
    space-joined tokens — validated loudly, since an entity that
    doesn't survive its own tokenization can never match.

    Plan shape (the reason this scales): candidate n-grams are built
    MAP-SIDE with the shift-and-zip spelling (index in the gram array
    IS the token position — ``posexplode`` recovers it for free; the
    naive ``transform(sequence(..), i -> slice(toks, i, n))`` re-runs
    the tokenizer per gram, the repo's measured O(len²) HOF trap),
    then one explode feeds ONE broadcast hash join against the
    gazetteer — the corpus never shuffles on text. For the
    literal-list form (≤10k entities) an EXACT plan-literal prefilter
    runs inside the same map stage, so only true matches ever reach
    the explode+join (measured 3.8→2.1 s at sf0.1), and n-gram sizes
    with no entities are never generated. ``longest_only``
    resolves same-start overlaps ("new york city" beats "new york"
    at the same position) with a window over MATCHES only — match
    volume, not corpus volume. Overlaps at different starts all
    report, like any dictionary matcher.
    """
    if not 1 <= int(max_ngram) <= 8:
        raise ValueError("gazetteer_match: max_ngram must be in 1..8")
    spark = df.sparkSession
    # phrases by token count, known only for the literal-list form —
    # enables the exact map-side prefilter below (and skipping n-gram
    # sizes with no entities at all)
    by_n: "dict[int, list[str]] | None" = None
    if not isinstance(entities, DataFrame):
        rows = [(str(e).lower(), str(lab)) for e, lab in entities]
        if not rows:
            raise ValueError("gazetteer_match: entities must be "
                             "non-empty")
        import re as _re
        by_n = {}
        for e, _ in rows:
            et = [t for t in _re.split(r"[^a-z0-9']+", e) if t]
            if " ".join(et) != e:
                raise ValueError(
                    f"gazetteer_match: entity {e!r} does not survive "
                    "its own tokenization (punctuation/case inside a "
                    "phrase) — it could never match")
            if len(et) > max_ngram:
                raise ValueError(
                    f"gazetteer_match: entity {e!r} has {len(et)} "
                    f"tokens > max_ngram={max_ngram}")
            by_n.setdefault(len(et), []).append(e)
        if sum(map(len, by_n.values())) > 10_000:
            by_n = None  # too many literals to ride the plan; join-only
        entities = spark.createDataFrame(
            rows, "entity string, label string")
    ent = F.broadcast(entities.select("entity", "label").dropDuplicates(
        ["entity", "label"]))

    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                r"[^a-z0-9']+"),
        lambda t: t != "")
    per_n = []
    for n in range(1, max_ngram + 1):
        if by_n is not None and not by_n.get(n):
            continue  # no entity has n tokens: generate nothing
        m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
        grams = F.slice(toks, 1, m)
        for k in range(1, n):
            grams = F.zip_with(grams, F.slice(toks, 1 + k, m),
                               lambda a, b: F.concat(a, F.lit(" "), b))
        structs = F.transform(
            grams,
            lambda x, i: F.struct(i.cast("bigint").alias("pos"),
                                  F.lit(n).cast("int").alias("n"),
                                  x.alias("phrase")))
        if by_n is not None:
            # exact plan-literal prefilter: only TRUE matches survive
            # to the explode — the join then carries match volume, not
            # candidate volume (the lambda touches only the element,
            # never an outer array: codegen-safe, no HOF re-eval trap)
            phrases = by_n[n]
            structs = F.filter(
                structs, lambda c: c["phrase"].isin(*phrases))
        per_n.append(structs)
    cand = df.select(
        F.col(id_col),
        F.explode(F.flatten(F.array(*per_n))).alias("c")
    ).select(id_col, F.col("c.pos").alias("pos"),
             F.col("c.n").alias("__n"), F.col("c.phrase").alias("__p"))
    m = cand.join(ent, cand["__p"] == ent["entity"], "inner")
    if longest_only:
        w = Window.partitionBy(id_col, "pos").orderBy(
            F.col("__n").desc(), "label")
        m = (m.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") == 1))
    return m.select(id_col, "pos", "entity", "label")
