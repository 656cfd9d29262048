"""The analytics query catalog: the shipper's catalog
(:mod:`beats_spark.queries`) extended with one entry per operator of
this package, each with a DuckDB-runnable oracle SQL string that must
match row-for-row. The parity rules are the shipper catalog's.

``QUERIES`` / ``ORACLES`` here hold both catalogs;
``beats_spark.queries`` (and so ``__spark_entry__``) holds only the
shipper's.
"""

from __future__ import annotations

from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from beats_spark.processors import compile_processors

from beats_spark import queries as _shipper
from beats_spark.queries import _ensure_workers_can_import

from . import (
    cosine_topk, exact_dup_groups, dedup_exact, lsh_cosine_topk,
    minhash_lsh_pairs, ngram_jaccard_pairs, simhash, simhash_pairs,
    lang_id_stopword, lang_id_ngram, text_stats, token_count,
    doc_fingerprint,
)
from .multimodal import media_phash_pairs, sample_video_frames
from .scrub import PII_PATTERNS, dedup_lines, scrub

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = dict(
    _shipper.QUERIES)
ORACLES: Dict[str, str] = dict(_shipper.ORACLES)


def query(name: str, oracle: Optional[str] = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_workers_can_import(spark, "beats_analytics")
    return _shipper._t(spark, sf_dir, name)


# =====================================================================
# data quality (declarative constraints, column profiles)
# =====================================================================

@query("data_quality", oracle="""
WITH base AS (
  SELECT count(*) AS n,
         sum(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END) AS s0,
         sum(CASE WHEN value >= 0 AND value <= 400
                  THEN 1 ELSE 0 END) AS s1,
         sum(CASE WHEN event_type IN ('click','view','purchase',
                                      'signup') THEN 1 ELSE 0 END)
           AS s2,
         sum(CASE WHEN CAST(user_id AS VARCHAR) SIMILAR TO '[0-9]+'
                  THEN 1 ELSE 0 END) AS s3,
         count(DISTINCT event_id) AS d0,
         count(DISTINCT (user_id, event_type)) AS d1
  FROM events)
SELECT "check", n, CAST(satisfied AS BIGINT) AS satisfied,
       CAST(satisfied * 1000000 // greatest(n, 1) AS BIGINT)
         AS metric_micro,
       satisfied * 1000000 // greatest(n, 1) >= need AS passed
FROM (
  SELECT 'completeness(user_id)' AS "check", n, s0 AS satisfied,
         1000000 AS need FROM base
  UNION ALL SELECT 'range(value,[0,400])', n, s1, 950000 FROM base
  UNION ALL SELECT 'in_set(event_type)', n, s2, 750000 FROM base
  UNION ALL SELECT 'pattern(uid_str)', n, s3, 1000000 FROM base
  UNION ALL SELECT 'unique(event_id)', n, d0, 1000000 FROM base
  UNION ALL SELECT 'unique(user_id,event_type)', n, d1, 0 FROM base)
""")
def data_quality_q(spark, sf_dir):
    """Declarative data-quality gate
    (:func:`beats_analytics.checks.check_constraints`, the
    Deequ-shaped verification layer): six constraints — completeness,
    a range with a 95% tolerance, set membership, a regex pattern,
    exact uniqueness, and a composite-key cardinality floor — over
    the events table. ALL scalar checks compile into ONE aggregation
    pass and ALL uniqueness checks into one more, however many are
    declared (N constraints as N filter-count jobs is N full scans at
    100 TB). Metrics in integer micro-units; the oracle re-derives
    every verdict including the pass/fail booleans."""
    from .checks import check_constraints
    ev = _t(spark, sf_dir, "events").withColumn(
        "uid_str", F.col("user_id").cast("string"))
    return check_constraints(ev, [
        {"completeness": {"column": "user_id"}},
        {"range": {"column": "value", "min": 0, "max": 400,
                   "min_ratio": 0.95}},
        {"in_set": {"column": "event_type",
                    "values": ["click", "view", "purchase", "signup"],
                    "min_ratio": 0.75}},
        {"pattern": {"column": "uid_str", "regex": "^[0-9]+$"}},
        {"unique": {"columns": ["event_id"]}},
        {"unique": {"columns": ["user_id", "event_type"],
                    "min_ratio": 0.0}},
    ])



@query("column_profile", oracle="""
WITH base AS (
  SELECT count(*) AS n,
         sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS nul0,
         count(DISTINCT user_id) AS d0,
         CAST(min(user_id) AS VARCHAR) AS mn0,
         CAST(max(user_id) AS VARCHAR) AS mx0,
         sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS nul1,
         count(DISTINCT event_type) AS d1,
         min(event_type) AS mn1, max(event_type) AS mx1,
         sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS nul2,
         count(DISTINCT event_id) AS d2,
         CAST(min(event_id) AS VARCHAR) AS mn2,
         CAST(max(event_id) AS VARCHAR) AS mx2
  FROM events)
SELECT 'user_id' AS "column", n, CAST(nul0 AS BIGINT) AS n_null,
       CAST(d0 AS BIGINT) AS n_distinct, mn0 AS min_value,
       mx0 AS max_value FROM base
UNION ALL SELECT 'event_type', n, CAST(nul1 AS BIGINT),
       CAST(d1 AS BIGINT), mn1, mx1 FROM base
UNION ALL SELECT 'event_id', n, CAST(nul2 AS BIGINT),
       CAST(d2 AS BIGINT), mn2, mx2 FROM base
""")
def column_profile_q(spark, sf_dir):
    """One-pass column profiling
    (:func:`beats_analytics.checks.profile_columns`): null
    counts, exact distincts, min/max for three event columns — the
    Deequ suggestion-loop input (derive tomorrow's constraints from
    today's healthy profile). All columns' stats are parallel
    aggregates of ONE scan with verdict rows exploded off the single
    agg row; the oracle re-derives each stat."""
    from .checks import profile_columns
    ev = _t(spark, sf_dir, "events")
    return profile_columns(ev, ["user_id", "event_type", "event_id"])



# =====================================================================
# analytics: dedup
# =====================================================================

@query("dedup_exact_groups", oracle="""
SELECT md5(text) AS digest, min(doc_id) AS keeper, count(*) AS n_dups
FROM documents GROUP BY digest
""")
def dedup_exact_groups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dup_groups(docs)



@query("dedup_exact_keep", oracle="""
SELECT doc_id, lang, source, n_chars FROM documents
QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
""")
def dedup_exact_keep(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup_exact(docs).select("doc_id", "lang", "source", "n_chars")



_SH_TOKS = ("list_filter(string_split_regex(lower(text), '\\s+'), "
            "x -> x <> '')")

_SH_BASE = f"""
base AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
             i -> array_to_string(t[i:i+2], ' '))) AS sh
  FROM (SELECT doc_id, {_SH_TOKS} AS t FROM documents)
  WHERE len(t) >= 3)
"""


@query("dedup_minhash_lsh", oracle=f"""
WITH {_SH_BASE},
sigs AS (
  SELECT id, sh,
         list_transform(range(0, 16),
           s -> list_min(list_transform(sh,
                  x -> md5(CAST(s AS VARCHAR) || ':' || x)))) AS sig
  FROM base),
buckets AS (
  SELECT id, sh, u.b AS band,
         md5(array_to_string(sig[u.b*4+1:u.b*4+4], '|')) AS bucket
  FROM sigs, unnest(range(0, 4)) AS u(b)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
SELECT id_a, id_b,
       round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))),
             6) AS jaccard
FROM cand
""")
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16)+LSH(4 bands) candidate pairs with exact-Jaccard
    verification — band buckets are the only shuffle key."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, n=3, num_hashes=16, bands=4)



@query("dedup_ngram_jaccard", oracle=f"""
WITH {_SH_BASE},
inv AS (SELECT id, unnest(sh) AS g FROM base),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id),
sz AS (SELECT id, len(sh) AS sz FROM base)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (x.sz + y.sz - inter), 6) AS jaccard
FROM inter JOIN sz x ON x.id = id_a JOIN sz y ON y.id = id_b
WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) >= 0.12
""")
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram-Jaccard similarity join via the inverted shingle
    index."""
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.12)



@query("dedup_jaccard_prefix", oracle=f"""
WITH {_SH_BASE},
inv AS (SELECT id, unnest(sh) AS g FROM base),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
  GROUP BY a.id, b.id),
sz AS (SELECT id, len(sh) AS sz FROM base)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (x.sz + y.sz - inter), 6) AS jaccard
FROM inter JOIN sz x ON x.id = id_a JOIN sz y ON y.id = id_b
WHERE CAST(inter AS DOUBLE) / (x.sz + y.sz - inter) >= 0.3
""")
def dedup_jaccard_prefix(spark, sf_dir):
    """Prefix-filtered exact Jaccard join
    (:func:`beats_analytics.dedup.ngram_jaccard_prefix_pairs`,
    ppjoin-style): candidates come only from each document's rarest
    ``|s|-⌈t|s|⌉+1`` shingles under a global df-order, then exact
    array_intersect verification — output identical to the full
    inverted-index join, which is exactly what the oracle computes.
    The scale property: hot shingles sort to the END of the order and
    appear in almost no prefixes, so the self-join's key distribution
    is anti-skewed by construction — the exactness-preserving
    alternative to ``max_doc_freq`` stop-shingle cutoffs (which drop
    pairs)."""
    from .dedup import ngram_jaccard_prefix_pairs
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_prefix_pairs(docs, n=3, threshold=0.3)



@query("dedup_containment", oracle=f"""
WITH {_SH_BASE},
inv AS (SELECT id, unnest(sh) AS g FROM base),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM inv a JOIN inv b ON a.g = b.g AND a.id <> b.id
  GROUP BY a.id, b.id),
sz AS (SELECT id, len(sh) AS sz FROM base)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / s.sz, 6) AS containment
FROM inter JOIN sz s ON s.id = id_a
WHERE CAST(inter AS DOUBLE) / s.sz >= 0.5
""")
def dedup_containment(spark, sf_dir):
    """Directional n-gram containment join
    (:func:`beats_analytics.dedup.containment_pairs`):
    ``C(A→B) = |A∩B|/|A| >= 0.5`` — the quotation/inclusion detector
    Jaccard cannot express (a short doc fully embedded in a long one
    has high containment but a union-dominated, low Jaccard). Both
    directions emitted separately; same inverted-index join shape and
    stop-shingle fan-out bound as the Jaccard form."""
    from .dedup import containment_pairs
    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, n=3, threshold=0.5)



@query("dedup_simhash", oracle="""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS t
  FROM documents),
hs AS (
  SELECT doc_id,
         list_transform(t, tok ->
           CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)) AS h,
         len(t) AS cnt
  FROM toks),
bits AS (
  SELECT doc_id,
         list_transform(range(0, 60), j ->
           CASE WHEN 2 * len(list_filter(h, x -> ((x >> j) & 1) = 1)) > cnt
                THEN 1 ELSE 0 END) AS b
  FROM hs)
SELECT doc_id,
       CAST(list_sum(list_transform(range(0, 60),
              j -> (CAST(b[j+1] AS BIGINT) << j))) AS BIGINT) AS simhash
FROM bits
""")
def dedup_simhash(spark, sf_dir):
    """60-bit SimHash per document, bit-identical across engines."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash(F.col("text")).alias("simhash"))



@query("dedup_simhash_pairs", oracle=r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents),
hs AS (
  SELECT doc_id,
         list_transform(t, tok ->
           CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)) AS h,
         len(t) AS cnt
  FROM toks),
shh AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 60), j ->
           (CASE WHEN 2 * len(list_filter(h, x -> ((x >> j) & 1) = 1)) > cnt
                 THEN CAST(1 AS BIGINT) << j ELSE 0 END))) AS BIGINT) AS sh
  FROM hs),
chunks AS (
  SELECT doc_id, sh, u.c AS c, (sh >> (u.c * 5)) & 31 AS v
  FROM shh, unnest(range(0, 12)) AS u(c)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sh AS sha, b.sh AS shb
  FROM chunks a JOIN chunks b
    ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sha, shb)) <= 10
""")
def dedup_simhash_pairs(spark, sf_dir):
    """Banded SimHash candidate pairs — chunk equality join + exact
    popcount verify, oracle-checked like everything else."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=10, chunks=12)



_SIMHASH_PAIRS_SQL = ORACLES["dedup_simhash_pairs"]



@query("dedup_components", oracle=f"""
WITH RECURSIVE pairs AS ({_SIMHASH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs),
lp AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT e.v AS id, lp.comp FROM lp JOIN edges e ON e.u = lp.id)
SELECT id AS doc_id, min(comp) AS component
FROM lp GROUP BY id
""")
def dedup_components(spark, sf_dir):
    """Connected components over the SimHash near-dup pairs — the
    cluster-resolution step (one survivor per component, not
    per-pair loser-dropping): iterative min-label propagation, one
    join + min-agg per round, labels localCheckpoint-ed so lineage
    stays flat (components.py). Oracle: recursive-CTE
    reachability closure over the same pair list."""
    from .components import connected_components
    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs, max_hamming=10, chunks=12)
    return connected_components(
        pairs, nodes=docs.select("doc_id"), id_col="doc_id",
        comp_col="component")



@query("domain_rollup", oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_SH_TOKS} AS toks,
         CASE CAST(doc_id % 6 AS INT)
           WHEN 0 THEN source || '.blog.example.com'
           WHEN 1 THEN source || '.shop.co.uk'
           WHEN 2 THEN source || '.foo.ck'
           WHEN 3 THEN 'www.ck'
           WHEN 4 THEN source || '.pages.github.io'
           ELSE source || '.unknowntld' END AS host,
         CAST(doc_id % 6 AS INT) AS bucket
  FROM documents),
feat AS (
  SELECT host, bucket, text,
    round(CAST(len(list_filter(toks, x -> x IN
      ('the','a','an','and','or','of','to','in','is','it','that','for',
       'on','with','as','at','by','be','this','are','was'))) AS DOUBLE)
      / greatest(len(toks), 1), 9) AS stop_r,
    round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
               AS DOUBLE) / greatest(length(text), 1), 9) AS alpha_r,
    round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
               AS DOUBLE) / greatest(length(text), 1), 9) AS punct_r,
    round(CAST(list_sum(list_transform(toks, x -> length(x)))
               AS DOUBLE) / greatest(len(toks), 1), 9) AS awl
  FROM t),
q AS (
  SELECT CASE bucket
           WHEN 0 THEN 'example.com'
           WHEN 1 THEN 'shop.co.uk'
           WHEN 2 THEN host
           WHEN 3 THEN 'www.ck'
           WHEN 4 THEN 'pages.github.io'
           ELSE host END AS registered_domain,
    CAST(round(round(least(stop_r * 4, 1.0) * 0.3 + alpha_r * 0.4
          + (1 - least(punct_r * 5, 1.0)) * 0.2
          + (CASE WHEN awl >= 3 AND awl <= 10
                  THEN 1.0 ELSE 0.5 END) * 0.1, 6) * 1e6)
         AS BIGINT) AS qm
  FROM feat)
SELECT registered_domain, count(*) AS n_docs,
       round(CAST(sum(qm) AS BIGINT) / count(*) / 1e6, 6) AS avg_quality
FROM q GROUP BY registered_domain
""")
def domain_rollup(spark, sf_dir):
    """Per-registered-domain crawl rollup: PSL broadcast-join eTLD+1
    × the fused quality kernel, aggregated with the exact-cents trick
    (quality summed as integer micro-units so the average is
    order-independent and engine-exact). The crawl-curation synthesis
    query: which domains contribute how many docs at what quality."""
    from .textstats import text_stats_arrow
    from beats_spark.psl import registered_domain_psl
    docs = _t(spark, sf_dir, "documents")
    b = (F.col("doc_id") % 6).cast("int")
    host = (F.when(b == 0, F.concat("source", F.lit(".blog.example.com")))
             .when(b == 1, F.concat("source", F.lit(".shop.co.uk")))
             .when(b == 2, F.concat("source", F.lit(".foo.ck")))
             .when(b == 3, F.lit("www.ck"))
             .when(b == 4, F.concat("source", F.lit(".pages.github.io")))
             .otherwise(F.concat("source", F.lit(".unknowntld"))))
    df = docs.select(
        host.alias("host"),
        F.round(text_stats_arrow("text")["quality"] * 1e6)
         .cast("long").alias("qm"))
    out = registered_domain_psl(df, "host")
    return (out.groupBy("registered_domain")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.sum("qm") / F.count(F.lit(1)) / 1e6, 6)
                  .alias("avg_quality")))



@query("repetition_stats", oracle=f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS n_chars,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS ls,
         {_SH_TOKS} AS toks
  FROM documents),
lc AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
         sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_lines,
         sum(len * c) AS tot_lc,
         sum(CASE WHEN c >= 2 THEN len * c ELSE 0 END) AS dup_lc
  FROM (SELECT doc_id, u.l AS l, length(u.l) AS len, count(*) AS c
        FROM d, unnest(ls) AS u(l) GROUP BY doc_id, u.l, len)
  GROUP BY doc_id),
g2 AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
    FROM d, unnest(range(1, len(toks))) AS r(i))
  GROUP BY doc_id, g),
t2 AS (
  SELECT doc_id, round(CAST(c * length(g) AS DOUBLE) / n, 6) AS f
  FROM (SELECT g2.doc_id, g, c, d.n_chars AS n,
               row_number() OVER (PARTITION BY g2.doc_id
                                  ORDER BY c DESC, g ASC) AS rn
        FROM g2 JOIN d ON d.doc_id = g2.doc_id)
  WHERE rn = 1),
g3 AS (
  SELECT doc_id, g, count(*) AS c FROM (
    SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g
    FROM d, unnest(range(1, greatest(len(toks) - 1, 0))) AS r(i))
  GROUP BY doc_id, g),
t3 AS (
  SELECT doc_id, round(CAST(c * length(g) AS DOUBLE) / n, 6) AS f
  FROM (SELECT g3.doc_id, g, c, d.n_chars AS n,
               row_number() OVER (PARTITION BY g3.doc_id
                                  ORDER BY c DESC, g ASC) AS rn
        FROM g3 JOIN d ON d.doc_id = g3.doc_id)
  WHERE rn = 1),
g5 AS (
  SELECT doc_id,
         sum(c * length(g)) AS tot5,
         sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS dup5
  FROM (SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS g
          FROM d, unnest(range(1, greatest(len(toks) - 3, 0))) AS r(i))
        GROUP BY doc_id, g)
  GROUP BY doc_id)
SELECT d.doc_id,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(lc.n_lines, 0) END AS n_lines,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(round(CAST(lc.dup_lines AS DOUBLE)
                                / nullif(lc.n_lines, 0), 6), 0.0)
       END AS dup_line_frac,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(round(CAST(lc.dup_lc AS DOUBLE)
                                / nullif(lc.tot_lc, 0), 6), 0.0)
       END AS dup_line_char_frac,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(t2.f, 0.0) END AS top2_char_frac,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(t3.f, 0.0) END AS top3_char_frac,
       CASE WHEN d.text IS NULL THEN NULL
            ELSE coalesce(round(CAST(g5.dup5 AS DOUBLE)
                                / nullif(g5.tot5, 0), 6), 0.0)
       END AS dup5_frac
FROM d
LEFT JOIN lc ON lc.doc_id = d.doc_id
LEFT JOIN t2 ON t2.doc_id = d.doc_id
LEFT JOIN t3 ON t3.doc_id = d.doc_id
LEFT JOIN g5 ON g5.doc_id = d.doc_id
""")
def repetition_stats_q(spark, sf_dir):
    """Gopher-style repetition filters (duplicate lines, most-frequent
    2-/3-gram character coverage, repeated-5-gram occurrence share) in
    one Arrow pass (textstats.repetition_stats_arrow)."""
    from .textstats import repetition_stats_arrow
    docs = _t(spark, sf_dir, "documents")
    st = repetition_stats_arrow("text")
    return docs.select(
        "doc_id",
        st["n_lines"].alias("n_lines"),
        st["dup_line_frac"].alias("dup_line_frac"),
        st["dup_line_char_frac"].alias("dup_line_char_frac"),
        st["top2_char_frac"].alias("top2_char_frac"),
        st["top3_char_frac"].alias("top3_char_frac"),
        st["dup5_frac"].alias("dup5_frac"))



@query("pack_concat", oracle=f"""
WITH t AS (
  SELECT lang, doc_id, CAST(len({_SH_TOKS}) AS BIGINT) AS n
  FROM documents),
c AS (
  SELECT lang, doc_id,
         sum(n) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) - n AS start
  FROM t)
SELECT lang, doc_id,
       CAST(start // 512 AS BIGINT) AS bin,
       CAST(start % 512 AS BIGINT) AS bin_offset
FROM c
""")
def pack_concat_q(spark, sf_dir):
    """Concat-and-split sequence packing (training batcher): lay the
    per-shard token stream out in doc_id order, cut every 512 tokens
    — one window cumsum, zero Python (packing.py)."""
    from .packing import pack_concat
    from .textstats import token_count
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "lang", "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"))
    out = pack_concat(sized, budget=512, shard_col="lang")
    return out.select("lang", "doc_id", "bin", "bin_offset")



@query("pack_greedy", oracle=f"""
WITH RECURSIVE t AS (
  -- n coalesced like the kernel (NaN tokens count 0); the shard join
  -- uses IS NOT DISTINCT FROM so a NULL shard still chains
  SELECT lang, doc_id,
         coalesce(CAST(len({_SH_TOKS}) AS BIGINT), 0) AS n,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents),
scan AS (
  SELECT lang, doc_id, rn, CAST(0 AS BIGINT) AS bin, n AS used, n
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.lang, t.doc_id, t.rn,
         CASE WHEN s.used > 0 AND s.used + t.n > 512
              THEN s.bin + 1 ELSE s.bin END,
         CASE WHEN s.used > 0 AND s.used + t.n > 512
              THEN t.n ELSE s.used + t.n END,
         t.n
  FROM scan s JOIN t
    ON t.lang IS NOT DISTINCT FROM s.lang AND t.rn = s.rn + 1)
SELECT lang, doc_id, bin FROM scan
""")
def pack_greedy_q(spark, sf_dir):
    """Greedy first-fit-in-order packing (docs never split; a doc
    that exceeds the remaining budget opens the next bin) — the
    token-bucket execution shape: sequential Arrow scan per shard,
    parallel across shards; oracle is the matching recursive CTE."""
    from .packing import pack_greedy
    from .textstats import token_count
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "lang", "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"))
    out = pack_greedy(sized, budget=512, shard_col="lang")
    return out.select("lang", "doc_id", "bin")



@query("dataset_split", oracle="""
WITH b AS (
  SELECT lang,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % 10000 AS bucket
  FROM documents)
SELECT CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split,
       lang, count(*) AS n
FROM b GROUP BY split, lang
""")
def dataset_split(spark, sf_dir):
    """Deterministic hash split (train/val/test 90/5/5 on md5(doc_id)
    buckets — reproducible under repartitioning/retries, unlike
    randomSplit) with per-stratum realized counts
    (splits.py)."""
    from .splits import hash_split, split_fractions
    docs = _t(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id",
                     {"train": 0.9, "val": 0.05, "test": 0.05})
    return split_fractions(out, strata=["lang"])



_EMB_COS = ("round(list_dot_product(va, vb) / "
            "(sqrt(list_dot_product(va, va)) * "
            "sqrt(list_dot_product(vb, vb))), 6)")


@query("dedup_embedding", oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id < 150),
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.e AS va, b.e AS vb
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, {_EMB_COS} AS cosine
FROM p WHERE {_EMB_COS} >= 0.2
""")
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (brute force over a
    bounded id range — the verification kernel the LSH variant reranks
    with at scale)."""
    from .similarity import cosine_similarity
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    a = emb.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = F.round(cosine_similarity(F.col("va"), F.col("vb")), 6)
    return (pairs.select("id_a", "id_b", cos.alias("cosine"))
                 .filter(F.col("cosine") >= 0.2))



# =====================================================================
# analytics: text analysis
# =====================================================================

@query("text_quality", oracle=f"""
WITH t AS (SELECT doc_id, text, {_SH_TOKS} AS toks FROM documents)
SELECT doc_id,
       length(text) AS n_chars,
       len(toks) AS word_count,
       round(CAST(list_sum(list_transform(toks, x -> length(x)))
                  AS DOUBLE) / greatest(len(toks), 1), 6) AS avg_word_len,
       round(CAST(len(list_filter(toks, x -> x IN
         ('the','a','an','and','or','of','to','in','is','it','that','for',
          'on','with','as','at','by','be','this','are','was'))) AS DOUBLE)
         / greatest(len(toks), 1), 6) AS stopword_ratio,
       round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                  AS DOUBLE) / greatest(length(text), 1), 6) AS alpha_ratio,
       round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                  AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio
FROM t
""")
def text_quality(spark, sf_dir):
    """Stats via the fused Arrow kernel (numerically identical to the
    Column-expression text_stats; see textstats)."""
    from .textstats import text_stats_arrow
    docs = _t(spark, sf_dir, "documents")
    st = text_stats_arrow("text")
    out = docs.select("doc_id", st.alias("__s"))
    return out.select(
        "doc_id",
        F.col("__s.n_chars").alias("n_chars"),
        F.col("__s.word_count").alias("word_count"),
        F.col("__s.avg_word_len").alias("avg_word_len"),
        F.col("__s.stopword_ratio").alias("stopword_ratio"),
        F.col("__s.alpha_ratio").alias("alpha_ratio"),
        F.col("__s.punct_ratio").alias("punct_ratio"))



@query("readability_score", oracle="""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS s_raw,
         CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS y
  FROM documents),
sc AS (
  SELECT doc_id, w, s_raw, y,
         206835 - CAST(floor(w * 1015 / greatest(s_raw, 1)) AS BIGINT)
                - CAST(floor(y * 84600 / greatest(w, 1)) AS BIGINT)
           AS flesch_milli,
         CAST(floor(w * 390 / greatest(s_raw, 1)) AS BIGINT)
           + CAST(floor(y * 11800 / greatest(w, 1)) AS BIGINT) - 15590
           AS fk_grade_milli
  FROM t)
SELECT doc_id, w AS n_words, s_raw AS n_sentences, y AS n_syllables,
       flesch_milli, fk_grade_milli,
       CASE WHEN flesch_milli >= 90000 THEN 'very_easy'
            WHEN flesch_milli >= 70000 THEN 'easy'
            WHEN flesch_milli >= 50000 THEN 'medium'
            WHEN flesch_milli >= 30000 THEN 'hard'
            ELSE 'very_hard' END AS band
FROM sc
""")
def readability_score(spark, sf_dir):
    """Flesch reading-ease / Flesch-Kincaid grade per document as
    integer milli-points plus a five-band label
    (:func:`beats_analytics.textstats.readability`). Pure codegen
    projection — zero Python, zero shuffle; the integer scaling makes
    the classic float coefficients hash-exact cross-engine."""
    from .textstats import readability
    docs = _t(spark, sf_dir, "documents")
    r = readability(F.col("text"))
    return docs.select(
        "doc_id", *(r[f].alias(f) for f in (
            "n_words", "n_sentences", "n_syllables",
            "flesch_milli", "fk_grade_milli", "band")))



@query("token_count", oracle=f"""
SELECT lang,
       CAST(sum(len({_SH_TOKS})) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT) AS bpe_tokens,
       count(*) AS n_docs
FROM documents GROUP BY lang
""")
def token_count_q(spark, sf_dir):
    """Token counts via the fused Arrow kernel (word_count doubles as
    the whitespace count; the JVM ``regexp_extract_all`` form of
    :func:`token_count` stays as the SQL-parity reference but
    materializes every match into an array per row — 17.8 s vs ~1 s
    here at sf0.1)."""
    from .dedup import _spread
    from .textstats import text_stats_arrow
    docs = _spread(_t(spark, sf_dir, "documents"))
    st = text_stats_arrow("text")
    return (docs.select("lang", st["word_count"].alias("__ws"),
                        st["bpe_tokens"].alias("__bpe"))
                .groupBy("lang")
                .agg(F.sum("__ws").alias("ws_tokens"),
                     F.sum("__bpe").alias("bpe_tokens"),
                     F.count(F.lit(1)).alias("n_docs")))



@query("doc_fingerprint", oracle=f"""
WITH t AS (SELECT doc_id, {_SH_TOKS} AS toks FROM documents)
SELECT doc_id,
       sha256(array_to_string(toks, ' ')) AS fp_sha256,
       md5(array_to_string(toks, ' ')) AS fp_md5
FROM t
""")
def doc_fingerprint_q(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        doc_fingerprint(F.col("text"), "sha256").alias("fp_sha256"),
        doc_fingerprint(F.col("text"), "md5").alias("fp_md5"))



@query("lang_id", oracle=f"""
WITH s AS (
  SELECT lang, {_SH_TOKS} AS t FROM documents),
sc AS (
  SELECT lang,
    len(list_filter(t, x -> x IN ('der','die','und','das','ist'))) AS sde,
    len(list_filter(t, x -> x IN ('the','and','of','to','is'))) AS sen,
    len(list_filter(t, x -> x IN ('el','la','los','que','es'))) AS ses,
    len(list_filter(t, x -> x IN ('le','la','et','les','est'))) AS sfr
  FROM s)
SELECT lang,
       CASE WHEN greatest(sde, sen, ses, sfr) = 0 THEN 'und'
            WHEN sde = greatest(sde, sen, ses, sfr) THEN 'de'
            WHEN sen = greatest(sde, sen, ses, sfr) THEN 'en'
            WHEN ses = greatest(sde, sen, ses, sfr) THEN 'es'
            ELSE 'fr' END AS lang_pred,
       count(*) AS n
FROM sc GROUP BY lang, lang_pred
""")
def lang_id(spark, sf_dir):
    """JVM-side stopword-marker language ID (argmax, lexicographic
    tie-break)."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("lang",
                        lang_id_stopword(F.col("text")).alias("lang_pred"))
                .groupBy("lang", "lang_pred")
                .agg(F.count(F.lit(1)).alias("n")))



@query("lang_spans", oracle=f"""
WITH sc AS (
  SELECT doc_id,
    len(list_filter({_SH_TOKS},
        x -> x IN ('der','die','und','das','ist'))) AS sde,
    len(list_filter({_SH_TOKS},
        x -> x IN ('the','and','of','to','is'))) AS sen,
    len(list_filter({_SH_TOKS},
        x -> x IN ('el','la','los','que','es'))) AS ses,
    len(list_filter({_SH_TOKS},
        x -> x IN ('le','la','et','les','est'))) AS sfr
  FROM documents),
paras AS (
  SELECT doc_id, 0 AS pos,
         CASE WHEN greatest(sde, sen, ses, sfr) = 0 THEN 'und'
              WHEN sde = greatest(sde, sen, ses, sfr) THEN 'de'
              WHEN sen = greatest(sde, sen, ses, sfr) THEN 'en'
              WHEN ses = greatest(sde, sen, ses, sfr) THEN 'es'
              ELSE 'fr' END AS plang
  FROM sc
  UNION ALL SELECT doc_id, 1, 'en' FROM documents
  UNION ALL SELECT doc_id, 2,
                   CASE WHEN doc_id % 2 = 0 THEN 'de' ELSE 'fr' END
            FROM documents),
chg AS (
  SELECT doc_id, pos, plang,
         CASE WHEN lag(plang) OVER w IS NULL
                OR plang <> lag(plang) OVER w THEN 1 ELSE 0 END AS c
  FROM paras WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
sp AS (
  SELECT doc_id, pos, plang,
         CAST(sum(c) OVER (PARTITION BY doc_id ORDER BY pos) AS INT)
           AS span_id
  FROM chg)
SELECT doc_id AS id, span_id, min(plang) AS lang,
       count(*) AS n_paras,
       CAST(min(pos) AS INT) AS pos_start,
       CAST(max(pos) AS INT) AS pos_end
FROM sp GROUP BY doc_id, span_id
""")
def lang_spans_q(spark, sf_dir):
    """Code-switching span segmentation
    (:func:`beats_analytics.textstats.lang_spans`): documents
    synthesized as three paragraphs — the doc's own text (language
    per the marker argmax), an English filler, then a German or
    French filler by parity — segmented into adjacent same-language
    spans. English first paragraphs MERGE with the filler (span of 2)
    while others stay separate; zh docs have no markers and open an
    'und' span. The oracle re-derives the paragraph languages and
    replays the gaps-and-islands merge."""
    from .textstats import lang_spans
    docs = _t(spark, sf_dir, "documents")
    third = F.when(F.col("doc_id") % 2 == 0,
                   F.lit("der und das ist die")) \
             .otherwise(F.lit("le et les est la"))
    synth = docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit("\n\nthe and of to is\n\n"),
                 third).alias("text"))
    return lang_spans(synth, "doc_id", "text")



@query("lang_id_fused", oracle=f"""
WITH s AS (
  SELECT lang, {_SH_TOKS} AS t FROM documents),
sc AS (
  SELECT lang,
    len(list_filter(t, x -> x IN ('der','die','und','das','ist'))) AS sde,
    len(list_filter(t, x -> x IN ('the','and','of','to','is'))) AS sen,
    len(list_filter(t, x -> x IN ('el','la','los','que','es'))) AS ses,
    len(list_filter(t, x -> x IN ('le','la','et','les','est'))) AS sfr
  FROM s)
SELECT lang,
       CASE WHEN greatest(sde, sen, ses, sfr) = 0 THEN 'und'
            WHEN sde = greatest(sde, sen, ses, sfr) THEN 'de'
            WHEN sen = greatest(sde, sen, ses, sfr) THEN 'en'
            WHEN ses = greatest(sde, sen, ses, sfr) THEN 'es'
            ELSE 'fr' END AS lang_pred,
       count(*) AS n
FROM sc GROUP BY lang, lang_pred
""")
def lang_id_fused(spark, sf_dir):
    """Language ID riding the fused Arrow text-stats kernel (the scale
    path: marker counting reuses the kernel's token list instead of
    4 interpreted higher-order filters re-splitting the text per
    language). Same argmax/tie-break semantics — same oracle — as
    ``lang_id``."""
    from .textstats import text_stats_arrow
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("lang",
                        text_stats_arrow("text", with_lang=True)["lang"]
                        .alias("lang_pred"))
                .groupBy("lang", "lang_pred")
                .agg(F.count(F.lit(1)).alias("n")))



@query("lang_id_ngram", oracle="""
WITH t AS (SELECT lang, ' ' || lower(text) || ' ' AS s FROM documents),
g AS (SELECT lang,
        list_distinct(list_transform(range(1, length(s) - 1),
                                     i -> substr(s, i, 3))) AS grams
      FROM t),
sc AS (SELECT lang,
  len(list_filter(grams, x -> x IN ('er ', 'en ', 'ch ', 'der', ' de', 'die', 'ie ', 'ein', 'sch', 'und'))) AS sde,
  len(list_filter(grams, x -> x IN (' th', 'the', 'he ', ' an', 'and', 'nd ', ' of', 'of ', 'ion', ' to'))) AS sen,
  len(list_filter(grams, x -> x IN (' de', 'de ', 'os ', ' la', 'la ', 'el ', ' el', 'que', ' qu', 'as '))) AS ses,
  len(list_filter(grams, x -> x IN ('es ', ' de', 'de ', 'le ', 'ent', ' le', 'la ', ' la', 'tio', 'ne '))) AS sfr
  FROM g)
SELECT lang,
       CASE WHEN greatest(sde, sen, ses, sfr) = 0 THEN 'und'
            WHEN sde = greatest(sde, sen, ses, sfr) THEN 'de'
            WHEN sen = greatest(sde, sen, ses, sfr) THEN 'en'
            WHEN ses = greatest(sde, sen, ses, sfr) THEN 'es'
            ELSE 'fr' END AS lang_pred,
       count(*) AS n
FROM sc GROUP BY lang, lang_pred
""")
def lang_id_ngram_q(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.select("lang", lang_id_ngram("text"))
                .groupBy("lang", "lang_pred")
                .agg(F.count(F.lit(1)).alias("n")))



@query("curation_pipeline", oracle=f"""
WITH t AS (
  SELECT doc_id, lang, text, {_SH_TOKS} AS toks FROM documents),
feat AS (
  SELECT doc_id, lang, text,
    round(CAST(len(list_filter(toks, x -> x IN
      ('the','a','an','and','or','of','to','in','is','it','that','for',
       'on','with','as','at','by','be','this','are','was'))) AS DOUBLE)
      / greatest(len(toks), 1), 9) AS stop_r,
    round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
               AS DOUBLE) / greatest(length(text), 1), 9) AS alpha_r,
    round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
               AS DOUBLE) / greatest(length(text), 1), 9) AS punct_r,
    round(CAST(list_sum(list_transform(toks, x -> length(x)))
               AS DOUBLE) / greatest(len(toks), 1), 9) AS awl
  FROM t),
q AS (
  SELECT doc_id, lang, text,
    round(least(stop_r * 4, 1.0) * 0.3 + alpha_r * 0.4
          + (1 - least(punct_r * 5, 1.0)) * 0.2
          + (CASE WHEN awl >= 3 AND awl <= 10
                  THEN 1.0 ELSE 0.5 END) * 0.1, 6) AS quality
  FROM feat),
stage2 AS (
  SELECT doc_id, lang, text FROM q
  WHERE quality >= 0.65 AND lang IN ('en', 'de', 'fr')
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
base AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(range(1, greatest(len(t2) - 2, 0) + 1),
             i -> array_to_string(t2[i:i+2], ' '))) AS sh
  FROM (SELECT doc_id, {_SH_TOKS} AS t2 FROM stage2)
  WHERE len(t2) >= 3),
sigs AS (
  SELECT id, sh,
         list_transform(range(0, 16),
           s -> list_min(list_transform(sh,
                  x -> md5(CAST(s AS VARCHAR) || ':' || x)))) AS sig
  FROM base),
buckets AS (
  SELECT id, sh, u.b AS band,
         md5(array_to_string(sig[u.b*4+1:u.b*4+4], '|')) AS bucket
  FROM sigs, unnest(range(0, 4)) AS u(b)),
losers AS (
  SELECT DISTINCT b.id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
              6) >= 0.12)
SELECT doc_id, lang FROM stage2
WHERE doc_id NOT IN (SELECT id_b FROM losers)
""")
def curation_pipeline(spark, sf_dir):
    """The full curation funnel — quality filter → language select →
    exact dedup → MinHash near-dedup — checked as a SET: the oracle
    reproduces the exact surviving doc_ids, not just counts."""
    from .curate import curate
    docs = _t(spark, sf_dir, "documents")
    res = curate(docs, min_quality=0.65, langs=("en", "de", "fr"),
                 near_dup_jaccard=0.12, with_metrics=False)
    return res.kept.select("doc_id", "lang")



# =====================================================================
# analytics: similarity search
# =====================================================================

_COS = ("round(list_dot_product(qv, cv) / "
        "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), "
        "6)")


@query("ann_cosine_topk", oracle=f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
s AS (SELECT query_id, neighbor_id, {_COS} AS cosine
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
r AS (SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM s)
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM r WHERE rn <= 5
""")
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k via the numpy block-matmul kernel
    (collected query matrix, partition-local partial top-k, global
    window over k·m·partitions rows). The interpreted-HOF
    :func:`cosine_topk` remains the SQL-parity reference
    implementation; this is the hot path (11.1 s → ~1 s at sf0.1)."""
    from .similarity import cosine_topk_blocked
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk_blocked(emb, queries, k=5)



@query("random_projection", oracle="""
WITH e AS (SELECT vec_id,
                  list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> CAST(round(1000000 * x) AS BIGINT))
                    AS em
           FROM embeddings)
SELECT vec_id, CAST(u.j AS INT) AS out_dim,
       CAST(list_sum(list_transform(range(1, len(em) + 1), i ->
         em[i] * (CASE WHEN (i * i * (u.j + 1)
                             + i * 31 * (u.j + 1) * (u.j + 1)
                             + i * 7 + 11 * u.j) % 101 % 2 = 0
                       THEN 1 ELSE -1 END))) AS BIGINT) AS proj_micro
FROM e, unnest(range(0, 8)) AS u(j)
""")
def random_projection_q(spark, sf_dir):
    """JL-style dimensionality reduction 64→8
    (:func:`beats_analytics.similarity.random_projection`): the
    Rademacher sign matrix is regenerated from integer arithmetic on
    (i, j), inputs quantized to micro-units first so the projections
    are exact integer sums. Zero-exchange JVM-side projection — the
    shape that precedes ANN indexing at 100 TB."""
    from .similarity import random_projection
    emb = _t(spark, sf_dir, "embeddings")
    return random_projection(emb, out_dims=8)



@query("hard_negatives", oracle=f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
s AS (SELECT query_id, neighbor_id, {_COS} AS cosine
      FROM q CROSS JOIN c WHERE neighbor_id <> query_id),
r AS (SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM s WHERE cosine < 0.3)
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM r WHERE rn <= 5
""")
def hard_negatives_q(spark, sf_dir):
    """Hard-negative mining for contrastive training
    (:func:`beats_analytics.similarity.hard_negatives`): top-k
    cosine neighbors per query EXCLUDING candidates at/above the
    positive ceiling (here 0.3, calibrated to the fixture's random
    embeddings whose nearest neighbors reach ~0.39 — the exclusion
    provably bites; production corpora use ~0.95). The ceiling
    compares the ROUNDED score inside the block-matmul kernel, so
    the exclusion — not just the scores — is oracle-exact."""
    from . import hard_negatives
    emb = _t(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.filter(F.col("vec_id") < 10),
                          k=5, dup_ceiling=0.3)



_IVF_COS = ("round(list_dot_product({a}, {b}) / "
            "(sqrt(list_dot_product({a}, {a})) * "
            "sqrt(list_dot_product({b}, {b}))), 6)")


@query("ann_ivf_topk", oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings),
cent AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT 8),
assign AS (
  SELECT vec_id, e, cid AS list FROM (
    SELECT v.vec_id, v.e, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_IVF_COS.format(a='v.e', b='c.ce')} DESC, c.cid)
             AS rn
    FROM v CROSS JOIN cent c) t
  WHERE rn = 1),
probes AS (
  SELECT query_id, qv, cid AS list FROM (
    SELECT v.vec_id AS query_id, v.e AS qv, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {_IVF_COS.format(a='v.e', b='c.ce')} DESC, c.cid)
             AS rn
    FROM v CROSS JOIN cent c WHERE v.vec_id < 10) t
  WHERE rn <= 2),
s AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_IVF_COS.format(a='p.qv', b='a.e')} AS cosine
  FROM assign a JOIN probes p ON a.list = p.list
  WHERE a.vec_id <> p.query_id),
r AS (SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM s)
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM r WHERE rn <= 5
""")
def ann_ivf_topk(spark, sf_dir):
    """IVF-flavored ANN (inverted lists by nearest exemplar centroid,
    nprobe probing, exact rerank inside probed lists) — the learned-
    quantizer scale path with the LSH variant's co-partitioned-join
    plumbing; deterministic centroids keep it exactly SQL-checkable."""
    from .similarity import ivf_cosine_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_cosine_topk(emb, queries, k=5, n_centroids=8, nprobe=2)



@query("ann_lsh_topk", oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
sig AS (SELECT vec_id, e, CAST((CASE WHEN list_sum(list_transform(range(1, len(e)+1), i -> e[i] * (CASE WHEN (CAST('0x'||substr(md5('p0:'||CAST(i AS VARCHAR)),1,1) AS INT) % 2)=0 THEN 1.0 ELSE -1.0 END))) >= 0 THEN 1 ELSE 0 END) + (CASE WHEN list_sum(list_transform(range(1, len(e)+1), i -> e[i] * (CASE WHEN (CAST('0x'||substr(md5('p1:'||CAST(i AS VARCHAR)),1,1) AS INT) % 2)=0 THEN 1.0 ELSE -1.0 END))) >= 0 THEN 2 ELSE 0 END) + (CASE WHEN list_sum(list_transform(range(1, len(e)+1), i -> e[i] * (CASE WHEN (CAST('0x'||substr(md5('p2:'||CAST(i AS VARCHAR)),1,1) AS INT) % 2)=0 THEN 1.0 ELSE -1.0 END))) >= 0 THEN 4 ELSE 0 END) + (CASE WHEN list_sum(list_transform(range(1, len(e)+1), i -> e[i] * (CASE WHEN (CAST('0x'||substr(md5('p3:'||CAST(i AS VARCHAR)),1,1) AS INT) % 2)=0 THEN 1.0 ELSE -1.0 END))) >= 0 THEN 8 ELSE 0 END) AS INT) AS bucket FROM v),
q AS (SELECT vec_id AS query_id, e AS qv, bucket FROM sig WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, e AS cv, bucket FROM sig),
s AS (SELECT query_id, neighbor_id,
             round(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                   6) AS cosine
      FROM c JOIN q USING (bucket) WHERE neighbor_id <> query_id),
r AS (SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM s)
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM r WHERE rn <= 5
""")
def ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN (md5-parity hyperplanes are engine-portable, so
    even the approximate variant has an exact oracle)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_cosine_topk(emb, queries, k=5, num_planes=4)



@query("ann_multiprobe", oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
sig AS (SELECT vec_id, e, CAST((CASE WHEN list_sum(list_transform(range(1, len(e)+1), i -> e[i] * (CASE WHEN (CAST('0x'||substr(md5('p0:'||CAST(i AS VARCHAR)),1,1) AS INT) % 2)=0 THEN 1.0 ELSE -1.0 END))) >= 0 THEN 1 ELSE 0 END) + (CASE WHEN list_sum(list_transform(range(1, len(e)+1), i -> e[i] * (CASE WHEN (CAST('0x'||substr(md5('p1:'||CAST(i AS VARCHAR)),1,1) AS INT) % 2)=0 THEN 1.0 ELSE -1.0 END))) >= 0 THEN 2 ELSE 0 END) + (CASE WHEN list_sum(list_transform(range(1, len(e)+1), i -> e[i] * (CASE WHEN (CAST('0x'||substr(md5('p2:'||CAST(i AS VARCHAR)),1,1) AS INT) % 2)=0 THEN 1.0 ELSE -1.0 END))) >= 0 THEN 4 ELSE 0 END) + (CASE WHEN list_sum(list_transform(range(1, len(e)+1), i -> e[i] * (CASE WHEN (CAST('0x'||substr(md5('p3:'||CAST(i AS VARCHAR)),1,1) AS INT) % 2)=0 THEN 1.0 ELSE -1.0 END))) >= 0 THEN 8 ELSE 0 END) AS INT) AS bucket FROM v),
q0 AS (SELECT vec_id AS query_id, e AS qv, bucket FROM sig
       WHERE vec_id < 10),
q AS (SELECT query_id, qv, xor(bucket, m) AS bucket
      FROM q0, (SELECT unnest([0, 1, 2, 4, 8]) AS m)),
c AS (SELECT vec_id AS neighbor_id, e AS cv, bucket FROM sig),
s AS (SELECT DISTINCT query_id, neighbor_id,
             round(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv))
                    * sqrt(list_dot_product(cv, cv))), 6) AS cosine
      FROM c JOIN q USING (bucket) WHERE neighbor_id <> query_id),
r AS (SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM s)
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM r WHERE rn <= 5
""")
def ann_multiprobe(spark, sf_dir):
    """Multi-probe LSH ANN (:func:`beats_analytics.similarity
    .lsh_multiprobe_topk`, Lv et al. 2007): each query probes its own
    bucket plus every Hamming-1 neighbor bucket — recall bought on
    the QUERY side only (5 probe rows per query at 4 planes; the
    corpus is hashed and bucket-clustered exactly once, identical
    big-side layout to single-probe). The md5-parity hyperplanes are
    engine-portable, so even this approximate variant has an exact
    oracle, probe set and all; pytest separately asserts recall
    dominates single-probe against brute force."""
    from .similarity import lsh_multiprobe_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return lsh_multiprobe_topk(emb, queries, k=5, num_planes=4,
                               probes=1)



# =====================================================================
# analytics: multimodal plumbing (stubbed decode, real Spark contract)
# =====================================================================

@query("multimodal_frames", oracle="""
WITH d AS (
  SELECT doc_id, text,
         octet_length(encode(text)) AS n,
         ascii(substr(text, 1, 1)) * 16777216
         + ascii(substr(text, 2, 1)) * 65536
         + ascii(substr(text, 3, 1)) * 256
         + ascii(substr(text, 4, 1)) AS h
  FROM documents WHERE doc_id < 200),
m AS (SELECT doc_id, n, 1 + n % 32 AS n_frames FROM d)
SELECT doc_id,
       CAST(u.f AS INT) AS frame_idx,
       CAST(trunc(n * u.f / greatest(n_frames, 1)) AS BIGINT) AS frame_ts_ms
FROM m, unnest(range(0, n_frames, 8)) AS u(f)
""")
def multimodal_frames(spark, sf_dir):
    """Binary-column frame sampling: the deterministic fake decoder's
    metadata arithmetic is engine-portable, so even the stubbed
    multimodal path gets an exact oracle (payload = utf-8 bytes of the
    ASCII document text)."""
    docs = _t(spark, sf_dir, "documents")
    with_payload = docs.filter(F.col("doc_id") < 200).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return sample_video_frames(with_payload, every_n=8)



@query("media_phash_pairs", oracle=r"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
  WHERE doc_id % 7 = 0),
d AS (SELECT doc_id, text, octet_length(encode(text)) AS n FROM src),
fp AS (
  SELECT doc_id,
         CASE WHEN n = 0 THEN 0 ELSE
           CAST(list_sum(list_transform(range(0, 60), j ->
             (CAST(ascii(substr(text,
                    CAST(1 + ((j + 1) * 2654435761) % n AS INT), 1))
                   >> (j % 8) AS BIGINT) & 1) << j)) AS BIGINT)
         END AS fp
  FROM d),
chunks AS (
  SELECT doc_id, fp, u.c AS c, (fp >> (u.c * 10)) & 1023 AS v
  FROM fp, unnest(range(0, 6)) AS u(c)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.fp AS fa, b.fp AS fb
  FROM chunks a JOIN chunks b
    ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= 5
""")
def media_phash_pairs_q(spark, sf_dir):
    """Media near-dup pairs over the binary payload column: the
    fingerprint kernel is the perceptual-hash seam (stub = byte-sampled
    60-bit code, SQL-reproducible), banding/verify is the shared
    pigeonhole machinery (`dedup.py` banded_hamming_pairs). A
    shifted copy of every 7th document is unioned in so the expected
    output contains real duplicate pairs, not just band noise."""
    docs = _t(spark, sf_dir, "documents")
    dups = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    src = docs.select("doc_id", "text").unionByName(dups)
    with_payload = src.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
    return media_phash_pairs(with_payload)



@query("decontaminate", oracle=f"""
WITH t AS (SELECT doc_id, {_SH_TOKS} AS t FROM documents),
g AS (SELECT doc_id,
        list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
            i -> array_to_string(t[i:i+2], ' '))) AS sh
      FROM t),
ev AS (SELECT DISTINCT unnest(sh) AS gram FROM g WHERE doc_id % 20 = 0),
tr AS (SELECT doc_id, sh FROM g WHERE doc_id % 20 <> 0),
hits AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest(sh) AS gram FROM tr) x
  JOIN ev USING (gram))
SELECT tr.doc_id, (hits.doc_id IS NOT NULL) AS contaminated
FROM tr LEFT JOIN hits USING (doc_id)
""")
def decontaminate_q(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix-C / FineWeb
    practice): training docs sharing any word-n-gram with the eval
    set are flagged. Eval grams (tiny by construction) broadcast as
    64-bit hashes; the training side probes them with a map-side
    LEFT SEMI BroadcastHashJoin — no shuffle touches text
    (``decontam.py``). Here the eval set is every 20th
    document, n=3 so the oracle's shingle SQL is shared with the
    dedup queries."""
    from .decontam import contamination_flags
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    tr = docs.filter(F.col("doc_id") % 20 != 0)
    out = contamination_flags(tr, ev, n=3)
    return out.select("doc_id", "contaminated")



@query("bmp_stats", oracle="""
WITH p AS (
  SELECT event_id AS media_id,
         4 + event_id % 9 AS w, 2 * (1 + event_id % 4) AS h,
         CAST(event_id % 256 AS BIGINT) AS ca,
         CAST((event_id * 7) % 256 AS BIGINT) AS cb
  FROM events WHERE event_id % 50 < 8)
SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
  (ca + cb) * 500 AS mean_r_milli,
  (ca + cb) * 500 AS mean_g_milli,
  (ca + cb) * 500 AS mean_b_milli,
  (299 * (ca + cb) * 500 + 587 * (ca + cb) * 500
   + 114 * (ca + cb) * 500) // 1000 AS luma_milli
FROM p
""")
def bmp_stats_q(spark, sf_dir):
    """REAL image decode under an exact oracle: two-band BMPs (top
    half gray value A, bottom half B, equal halves) are ENCODED from
    table columns by the pure-numpy codec, then DECODED back by
    :func:`beats_analytics.multimodal.bmp_color_stats` — actual
    pixel bytes through actual header/stride/row-order parsing — and
    the oracle predicts every statistic analytically (mean of an
    equal A/B split is (A+B)·500 milli). This is the catalog's proof
    that the multimodal decode step is no longer a stub for
    codec-free formats (codecs.py). Two Arrow stages, zero
    shuffle; the subsample keeps encode cost out of the bench's way."""
    import numpy as np

    from .codecs import encode_bmp
    from .multimodal import bmp_color_stats

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 50 < 8)
    base = ev.select(
        F.col("event_id").alias("media_id"),
        (4 + F.col("event_id") % 9).cast("int").alias("w"),
        (2 * (1 + F.col("event_id") % 4)).cast("int").alias("h"),
        (F.col("event_id") % 256).cast("int").alias("ca"),
        ((F.col("event_id") * 7) % 256).cast("int").alias("cb"))

    def make(batches):
        import pandas as pd
        for pdf in batches:
            payloads = []
            for w, h, ca, cb in zip(pdf.w, pdf.h, pdf.ca, pdf.cb):
                px = np.empty((int(h), int(w), 3), np.uint8)
                px[: int(h) // 2] = int(ca)
                px[int(h) // 2:] = int(cb)
                payloads.append(encode_bmp(px))
            yield pd.DataFrame({"media_id": pdf.media_id,
                                "payload": payloads})

    media = base.mapInPandas(
        make, schema="media_id bigint, payload binary")
    return bmp_color_stats(media)



@query("wav_stats", oracle="""
WITH p AS (
  SELECT event_id AS media_id,
         20 + 2 * (event_id % 40) AS n,
         CAST(100 + event_id % 2000 AS BIGINT) AS a
  FROM events WHERE event_id % 50 >= 8 AND event_id % 50 < 14)
SELECT media_id, CAST(n AS BIGINT) AS n_frames,
  CAST(8000 AS INT) AS sample_rate,
  CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
  a * 1000 AS mean_abs_milli, a AS peak_abs,
  n * a * a AS energy
FROM p
""")
def wav_stats_q(spark, sf_dir):
    """REAL audio decode under an exact oracle: ±a square waves are
    ENCODED from table columns as 16-bit PCM WAV by the pure-numpy
    codec and DECODED by :func:`beats_analytics.multimodal
    .wav_audio_stats` — actual RIFF chunk walking over actual sample
    bytes — with analytically predicted statistics (mean |s| of a
    square wave is its amplitude, energy is n·a²). Companion proof to
    ``bmp_stats`` on the audio side. Two Arrow stages, zero shuffle."""
    import numpy as np

    from .codecs import encode_wav
    from .multimodal import wav_audio_stats

    ev = _t(spark, sf_dir, "events") \
        .filter((F.col("event_id") % 50 >= 8)
                & (F.col("event_id") % 50 < 14))
    base = ev.select(
        F.col("event_id").alias("media_id"),
        (20 + 2 * (F.col("event_id") % 40)).cast("int").alias("n"),
        (100 + F.col("event_id") % 2000).cast("int").alias("a"))

    def make(batches):
        import pandas as pd
        for pdf in batches:
            payloads = []
            for n, a in zip(pdf.n, pdf.a):
                s = np.tile(np.array([a, -a], np.int16), int(n) // 2)
                payloads.append(encode_wav(s, 8000))
            yield pd.DataFrame({"media_id": pdf.media_id,
                                "payload": payloads})

    media = base.mapInPandas(
        make, schema="media_id bigint, payload binary")
    return wav_audio_stats(media)



@query("surt_keys", oracle="""
WITH u AS (
  SELECT doc_id, source,
         'http://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE ''
           END || 'h' || CAST(doc_id % 40 AS VARCHAR)
         || '.' || source || '.com/p/'
         || CAST(doc_id % 7 AS VARCHAR)
         || CASE WHEN doc_id % 2 = 0
                 THEN '?z=1&a=' || CAST(doc_id % 5 AS VARCHAR)
                 ELSE '' END AS url
  FROM documents),
p AS (
  SELECT doc_id, url,
    'com,' || lower(source) || ',h' || CAST(doc_id % 40 AS VARCHAR)
      AS rev_host,
    '/p/' || CAST(doc_id % 7 AS VARCHAR) AS path,
    CASE WHEN doc_id % 2 = 0
         THEN '?a=' || CAST(doc_id % 5 AS VARCHAR) || '&z=1'
         ELSE '' END AS q
  FROM u)
SELECT doc_id, url, rev_host || ')' || path || q AS surt
FROM p
""")
def surt_keys_q(spark, sf_dir):
    """SURT canonical URL keys
    (:func:`beats_analytics.urls.surt_key` — the Common Crawl /
    wayback index spelling): URLs constructed from documents with a
    www-prefix mix, multi-label hosts, and unsorted query params;
    the oracle rebuilds the reversed-host form and bytewise-sorted
    query analytically. Pure codegen, zero shuffle."""
    from .urls import surt_key
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www."))
        .otherwise(F.lit("")),
        F.lit("h"), (F.col("doc_id") % 40).cast("string"),
        F.lit("."), F.col("source"), F.lit(".com/p/"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit("?z=1&a="),
                        (F.col("doc_id") % 5).cast("string")))
        .otherwise(F.lit("")))
    return d.select("doc_id", url.alias("url"),
                    surt_key(url).alias("surt"))



@query("cdx_latest", oracle="""
WITH lines AS (
  SELECT 'com,site' || CAST(event_id % 120 AS VARCHAR) || ')/p'
           || CAST(event_id % 4 AS VARCHAR) AS urlkey,
         strftime(ts, '%Y%m%d%H%M%S') AS ts14,
         CASE WHEN event_id % 9 = 0 THEN 404 ELSE 200 END AS status,
         'D' || CAST(event_id % 50 AS VARCHAR) AS digest,
         ts, event_id
  FROM events),
ok AS (SELECT * FROM lines WHERE status = 200),
latest AS (
  SELECT urlkey, max(date_trunc('second', ts)) AS capture_ts
  FROM ok GROUP BY urlkey)
SELECT o.urlkey, date_trunc('second', o.ts) AS capture_ts,
       o.status, o.digest,
       CAST(o.event_id AS BIGINT) AS warc_offset
FROM ok o JOIN latest l
  ON o.urlkey = l.urlkey
 AND date_trunc('second', o.ts) = l.capture_ts
""")
def cdx_latest_q(spark, sf_dir):
    """CDX index → freshest-200-per-urlkey fetch plan
    (:func:`beats_analytics.urls.cdx_parse` / ``cdx_latest``):
    CDX-JSON lines built from events (status mix, repeated urlkeys,
    14-digit timestamps), parsed by two regexes + one pruned
    from_json, then the narrow (urlkey, ts) keep decision + semi
    join — the dedup_exact discipline. The oracle replays the
    construction and the max-per-key semantics, tied captures kept
    on both sides. One exchange of 30-byte keys."""
    from .urls import cdx_latest, cdx_parse
    ev = _t(spark, sf_dir, "events")
    line = F.concat(
        F.lit("com,site"), (F.col("event_id") % 120).cast("string"),
        F.lit(")/p"), (F.col("event_id") % 4).cast("string"),
        F.lit(" "),
        F.date_format(F.col("ts").cast("timestamp"), "yyyyMMddHHmmss"),
        F.lit(' {"url":"http://x/","mime":"text/html","status":"'),
        F.when(F.col("event_id") % 9 == 0, F.lit("404"))
        .otherwise(F.lit("200")),
        F.lit('","digest":"D'), (F.col("event_id") % 50).cast("string"),
        F.lit('","filename":"f.warc.gz","offset":"'),
        F.col("event_id").cast("string"),
        F.lit('","length":"100"}'))
    parsed = cdx_parse(ev.select(line.alias("line")))
    out = cdx_latest(parsed)
    return out.select("urlkey", "capture_ts", "status", "digest",
                      "warc_offset")



@query("script_js", oracle="""
SELECT CASE WHEN value >= 100 THEN 'high' ELSE 'low' END AS value_band,
       CASE WHEN event_type = 'error' THEN 'err' ELSE '' END AS tag,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS value_cents
FROM events
WHERE user_id % 7 <> 0
GROUP BY 1, 2
""")
def script_js(spark, sf_dir):
    """The JS ``script`` processor end-to-end
    (``script/javascript/javascript.go:195`` via the in-repo ES5
    interpreter): ``register(params)`` state, Get/Put/Tag/Cancel per
    event, then an aggregate over the script's outputs. Exercises the
    whole bridge — params, param-driven branching, tags array export,
    Cancel row-drop — under the exact DuckDB oracle. The testdata
    parquet is a single split, which would serialize the per-event
    interpreter on one core — spread to default parallelism first
    (a no-op on production inputs with real split counts)."""
    from .dedup import _spread
    ev = _spread(_t(spark, sf_dir, "events"))
    chain = compile_processors([{"script": {
        "lang": "javascript",
        "source": """
var threshold = 0;
function register(params) { threshold = params.threshold; }
function process(evt) {
    if (evt.Get("user_id") % 7 === 0) { evt.Cancel(); return; }
    evt.Put("value_band",
            evt.Get("value") >= threshold ? "high" : "low");
    if (evt.Get("event_type") === "error") { evt.Tag("err"); }
}
""",
        "params": {"threshold": 100},
        "fields": {"value_band": "string"},
    }}])
    out = chain(ev)
    return (out.groupBy(
                F.col("value_band"),
                F.coalesce(F.array_join("tags", ","), F.lit(""))
                 .alias("tag"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum(F.round(F.col("value") * 100)))
                  .cast("bigint").alias("value_cents")))



def _pii_oracle() -> str:
    """Compose the DuckDB oracle from the SAME pattern table the Spark
    operator uses (``scrub.PII_PATTERNS``) — one source of
    truth for the regexes on both engines (they are RE2 ∩ java.util.regex
    by construction)."""
    raw = (
        "'reach user' || CAST(user_id AS VARCHAR) || ' at user' || "
        "CAST(user_id AS VARCHAR) || '@mail-' || event_type || "
        "'.example.com or +1 555-' || "
        "lpad(CAST(user_id % 1000 AS VARCHAR), 3, '0') || '-' || "
        "lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') || "
        "' from 10.' || CAST(user_id % 256 AS VARCHAR) || '.' || "
        "CAST(event_id % 256 AS VARCHAR) || '.7 id ' || "
        "lpad(CAST(user_id % 1000 AS VARCHAR), 3, '0') || '-' || "
        "lpad(CAST(event_id % 100 AS VARCHAR), 2, '0') || '-' || "
        "lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0') || "
        "' type ' || event_type"
    )
    scrubbed = "t"
    for _kind, rx, tok in PII_PATTERNS:
        scrubbed = (f"regexp_replace({scrubbed}, "
                    f"'{rx}', '{tok}', 'g')")
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(t, '{rx}')) AS BIGINT) "
        f"AS n_pii_{kind}"
        for kind, rx, _tok in PII_PATTERNS)
    return (f"WITH raw AS (SELECT event_id, {raw} AS t FROM events)\n"
            f"SELECT event_id,\n       {scrubbed} AS text,\n"
            f"       {counts}\nFROM raw")



@query("pii_scrub", oracle=_pii_oracle())
def pii_scrub(spark, sf_dir):
    """PII redaction (:func:`beats_analytics.scrub.scrub`): typed
    placeholder substitution for email / SSN / phone / IPv4 plus
    per-kind pre-scrub match counts — all chained ``regexp_replace`` /
    ``regexp_count``, pure JVM codegen, zero Python, no shuffle. The
    PII-laden input is constructed deterministically FROM events
    columns so the oracle rebuilds the identical text in SQL. The
    single-split testdata parquet would pin all the regex work to one
    core — spread first (the operator itself stays shuffle-free on
    production inputs with real split counts)."""
    from .dedup import _spread
    ev = _spread(_t(spark, sf_dir, "events"))
    uid, eid = F.col("user_id"), F.col("event_id")

    def pad(c, n):
        return F.lpad(c.cast("string"), n, "0")

    raw = F.concat(
        F.lit("reach user"), uid.cast("string"),
        F.lit(" at user"), uid.cast("string"),
        F.lit("@mail-"), F.col("event_type"),
        F.lit(".example.com or +1 555-"),
        pad(uid % 1000, 3), F.lit("-"), pad(eid % 10000, 4),
        F.lit(" from 10."), (uid % 256).cast("string"), F.lit("."),
        (eid % 256).cast("string"), F.lit(".7 id "),
        pad(uid % 1000, 3), F.lit("-"), pad(eid % 100, 2), F.lit("-"),
        pad(eid % 10000, 4), F.lit(" type "), F.col("event_type"))
    d = ev.select("event_id", raw.alias("text"))
    out = scrub(d, "text", with_counts=True)
    return out.select(
        "event_id", "text",
        *[f"n_pii_{k}" for k, _rx, _tok in PII_PATTERNS])



@query("dedup_lines", oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), lined AS (
  SELECT doc_id,
         list_transform(
           generate_series(0, CAST(ceil(len(toks)/6.0) AS INT) - 1),
           i -> {'pos': i,
                 'line': array_to_string(
                           list_slice(toks, i*6+1, i*6+6), ' ')}) AS pl
  FROM w
), ex0 AS (SELECT doc_id, unnest(pl) AS u FROM lined),
ex AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM ex0),
ranked AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line
                            ORDER BY doc_id, pos) AS rn
  FROM ex)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
       string_agg(line, chr(10) ORDER BY pos) AS text
FROM ranked WHERE rn = 1 GROUP BY doc_id
""")
def dedup_lines_q(spark, sf_dir):
    """Corpus-wide line-level exact dedup
    (:func:`beats_analytics.scrub.dedup_lines`, the C4 boilerplate
    rule): every distinct line survives only at its first
    ``(doc_id, pos)`` occurrence; documents are reassembled from the
    survivors (docs losing every line vanish). Documents are word
    salad with no newlines, so the query first folds them into 6-word
    lines — identically on both engines — making the dedup
    non-vacuous via the corpus's genuine duplicate docs. Scale: two
    exchanges total (rank by line content, regroup by doc)."""
    from .dedup import _spread
    docs = _spread(_t(spark, sf_dir, "documents"))
    w = F.split(F.col("text"), " ")
    nch = F.ceil(F.size(w) / F.lit(6.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nch - F.lit(1)),
        lambda i: F.array_join(F.slice(w, i * 6 + 1, 6), " "))
    lined = docs.select(
        "doc_id", F.array_join(lines, "\n").alias("text"))
    return dedup_lines(lined, "doc_id", "text")



# =====================================================================
# round 3: URL curation, duplicate spans, term stats, sampling


def _messy_urls(docs: DataFrame) -> DataFrame:
    """Two deterministic messy spellings (A, B) of one canonical URL
    per document, built FROM table columns so the oracle can rebuild
    the identical strings with plain concatenation (never
    re-implementing the canonicalizer in SQL — the PSL-oracle rule).
    Covers: mixed-case scheme/host, default vs explicit vs absent
    port, tracking params in different positions, unstable param
    order, fragments."""
    i, s = F.col("doc_id"), F.col("source")
    istr = i.cast("string")
    host = F.concat(s, F.lit(".example.org"))
    https = (i % 4) <= 1
    defport = F.when(https, F.lit(":443")).otherwise(F.lit(":80"))
    scheme_a = (F.when(i % 4 == 0, F.lit("HTTPS"))
                 .when(i % 4 == 1, F.lit("https"))
                 .when(i % 4 == 2, F.lit("HTTP"))
                 .otherwise(F.lit("hTtp")))
    port_a = (F.when(i % 3 == 0, defport)
               .when(i % 3 == 1, F.lit(":8080"))
               .otherwise(F.lit("")))
    q_a = F.when(
        i % 2 == 0,
        F.concat(F.lit("?utm_source=feed&id="), istr, F.lit("&b=2&a=1"))
    ).otherwise(
        F.concat(F.lit("?b=2&gclid=x"), istr, F.lit("&a=1&id="), istr))
    frag = F.when(i % 5 == 0, F.lit("#Sec2")).otherwise(F.lit(""))
    url_a = F.concat(scheme_a, F.lit("://"),
                     F.when(i % 2 == 0, F.upper(host)).otherwise(host),
                     port_a, F.lit("/Doc/"), istr, q_a, frag)

    scheme_b = F.when(https, F.lit("HttpS")).otherwise(F.lit("Http"))
    port_b = (F.when(i % 3 == 0, F.lit(""))
               .when(i % 3 == 1, F.lit(":8080"))
               .otherwise(defport))
    url_b = F.concat(scheme_b, F.lit("://"), host, port_b,
                     F.lit("/Doc/"), istr,
                     F.lit("?id="), istr, F.lit("&a=1&b=2&fbclid=z"))
    return docs.select(i.alias("doc_id"),
                       url_a.alias("url_a"), url_b.alias("url_b"))



# the same two spellings in DuckDB concatenation, and the closed-form
# canonical both must collapse to
_SQL_ISTR = "CAST(doc_id AS VARCHAR)"

_SQL_HOST = "source || '.example.org'"

_SQL_CANON = (
    "(CASE WHEN doc_id % 4 <= 1 THEN 'https' ELSE 'http' END) || '://' || "
    + _SQL_HOST
    + " || (CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END)"
    + " || '/Doc/' || " + _SQL_ISTR
    + " || '?a=1&b=2&id=' || " + _SQL_ISTR)

_SQL_URL_A = (
    "(CASE doc_id % 4 WHEN 0 THEN 'HTTPS' WHEN 1 THEN 'https' "
    "WHEN 2 THEN 'HTTP' ELSE 'hTtp' END) || '://' || "
    "(CASE WHEN doc_id % 2 = 0 THEN upper(" + _SQL_HOST + ") "
    "ELSE " + _SQL_HOST + " END) || "
    "(CASE WHEN doc_id % 3 = 0 THEN "
    "  (CASE WHEN doc_id % 4 <= 1 THEN ':443' ELSE ':80' END) "
    " WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END) || "
    "'/Doc/' || " + _SQL_ISTR + " || "
    "(CASE WHEN doc_id % 2 = 0 THEN "
    "  '?utm_source=feed&id=' || " + _SQL_ISTR + " || '&b=2&a=1' "
    " ELSE '?b=2&gclid=x' || " + _SQL_ISTR + " || '&a=1&id=' || "
    + _SQL_ISTR + " END) || "
    "(CASE WHEN doc_id % 5 = 0 THEN '#Sec2' ELSE '' END)")

_SQL_URL_B = (
    "(CASE WHEN doc_id % 4 <= 1 THEN 'HttpS' ELSE 'Http' END) || '://' || "
    + _SQL_HOST + " || "
    "(CASE WHEN doc_id % 3 = 1 THEN ':8080' "
    " WHEN doc_id % 3 = 2 THEN "
    "  (CASE WHEN doc_id % 4 <= 1 THEN ':443' ELSE ':80' END) "
    " ELSE '' END) || "
    "'/Doc/' || " + _SQL_ISTR + " || '?id=' || " + _SQL_ISTR
    + " || '&a=1&b=2&fbclid=z'")



@query("url_canonicalize", oracle=f"""
SELECT doc_id, {_SQL_CANON} AS canonical_url FROM documents
""")
def url_canonicalize(spark, sf_dir):
    """URL canonicalization (:func:`beats_analytics.urls
    .canonical_url`): the messy spelling A — mixed-case scheme/host,
    default ports, tracking params, unstable param order, fragments —
    must collapse to the closed-form canonical the oracle builds
    directly (golden-answer oracle; the canonicalizer itself is never
    mirrored in SQL). Pure codegen'd projection: zero shuffle, zero
    Python."""
    from . import canonical_url
    docs = _t(spark, sf_dir, "documents")
    m = _messy_urls(docs)
    return m.select("doc_id",
                    canonical_url(F.col("url_a")).alias("canonical_url"))



@query("url_dedup", oracle=f"""
SELECT {_SQL_CANON} AS canonical_url,
       least({_SQL_URL_A}, {_SQL_URL_B}) AS kept_url
FROM documents
""")
def url_dedup_q(spark, sf_dir):
    """URL-level dedup (:func:`beats_analytics.urls.url_dedup`):
    both messy spellings of each page collapse to one canonical URL;
    the deterministic survivor is the bytewise-smaller raw spelling
    (the default order). One hash shuffle on the canonical URL; the
    row_number window streams each group."""
    from . import url_dedup
    docs = _t(spark, sf_dir, "documents")
    m = _messy_urls(docs)
    both = (m.select(F.col("url_a").alias("url"))
             .unionByName(m.select(F.col("url_b").alias("url"))))
    return url_dedup(both, "url").select(
        "canonical_url", F.col("url").alias("kept_url"))



@query("dup_ngram_spans", oracle="""
WITH t AS (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '') AS toks
           FROM documents),
g AS (SELECT doc_id,
             array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2],
                             ' ') AS ng
      FROM t, UNNEST(range(1, len(toks) - 1)) AS r(i)
      WHERE len(toks) >= 3),
c AS (SELECT ng, count(*) AS cnt FROM g GROUP BY ng),
p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
             CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_ngrams
      FROM g JOIN c USING (ng) GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(p.n_ngrams, 0) AS n_ngrams,
       coalesce(p.dup_ngrams, 0) AS dup_ngrams,
       round(coalesce(p.dup_ngrams, 0)
             / greatest(coalesce(p.n_ngrams, 0), 1), 6) AS dup_frac
FROM documents d LEFT JOIN p USING (doc_id)
""")
def dup_ngram_spans(spark, sf_dir):
    """Partial-duplication signal (:func:`beats_analytics.spans
    .ngram_duplicate_stats`, Lee et al. 2022 at n-gram granularity):
    per-document fraction of word-3-grams occurring ≥2 times corpus-
    wide. Runs the by_hash scale path (xxhash64 shuffle keys); the
    oracle counts by n-gram text — a hash collision would surface
    here as a red row, and a pytest pins both modes equal."""
    from . import ngram_duplicate_stats
    docs = _t(spark, sf_dir, "documents")
    return ngram_duplicate_stats(docs, n=3, min_count=2, by_hash=True)



@query("tfidf_terms", oracle="""
WITH t AS (SELECT doc_id, lang,
                  list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '') AS toks
           FROM documents),
x AS (SELECT doc_id, lang, unnest(toks) AS term FROM t),
tf AS (SELECT lang AS grp, term, count(*) AS term_count
       FROM x GROUP BY 1, 2),
dfq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq
        FROM x GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS nd FROM t),
s AS (SELECT grp, term,
             CAST(term_count AS BIGINT) AS term_count,
             CAST(doc_freq AS BIGINT) AS doc_freq,
             round(term_count * ln(CAST(nd AS DOUBLE) / doc_freq), 6)
               AS tfidf
      FROM tf JOIN dfq USING (term), n
      WHERE doc_freq >= 2)
SELECT grp AS "group", term, term_count, doc_freq, tfidf,
       CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY grp
                ORDER BY tfidf DESC, term ASC) AS rank FROM s)
WHERE rank <= 5
""")
def tfidf_terms(spark, sf_dir):
    """Per-language distinctive terms (:func:`beats_analytics
    .terms.tfidf_top_terms`): top-5 by term_count × ln(N/doc_freq),
    ranked ON the rounded score with a bytewise term tie-break so
    top-k membership is float-format-independent. Two partial
    (map-side combined) aggregations + one join + a streaming
    window."""
    from . import tfidf_top_terms
    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, group_col="lang", k=5, min_doc_freq=2)



@query("deterministic_sample", oracle="""
WITH s AS (SELECT user_id, event_id FROM events
           WHERE CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
                                         || '#s1'), 1, 15) AS BIGINT)
                 % 1000000 < 250000),
r AS (SELECT user_id, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY event_id) AS rn
      FROM s)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_kept
FROM r WHERE rn <= 20 GROUP BY user_id
""")
def deterministic_sample(spark, sf_dir):
    """Deterministic corpus sampling (:mod:`beats_analytics
    .sample`): md5-bucket Bernoulli(0.25) keyed on event_id (zero
    shuffle, repartition-stable — Spark's sample() is neither), then
    a per-user cap of 20 (the domain-quota pattern; one shuffle,
    streaming window). Output is per-user kept counts."""
    from . import cap_per_key, hash_sample
    ev = _t(spark, sf_dir, "events")
    s = hash_sample(ev, "event_id", 0.25, seed="s1")
    capped = cap_per_key(s, "user_id", 20, order_by=[F.col("event_id")])
    return capped.groupBy("user_id") \
                 .agg(F.count(F.lit(1)).alias("n_kept"))



@query("dedup_span_removal", oracle="""
WITH t AS (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '') AS toks
           FROM documents),
g AS (SELECT doc_id, CAST(i AS INT) - 1 AS pos,
             array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2],
                             ' ') AS ng
      FROM t, UNNEST(range(1, len(toks) - 1)) AS r(i)
      WHERE len(toks) >= 3),
w AS (SELECT doc_id, pos,
             count(*) OVER (PARTITION BY ng) AS cnt,
             row_number() OVER (PARTITION BY ng
                                ORDER BY doc_id, pos) AS rn
      FROM g),
rem AS (SELECT doc_id, list(DISTINCT pos) AS spans
        FROM w WHERE cnt >= 2 AND rn > 1 GROUP BY doc_id),
j AS (SELECT t.doc_id, t.toks, coalesce(rem.spans, []) AS spans
      FROM t LEFT JOIN rem USING (doc_id)),
k AS (SELECT doc_id, toks,
             list_filter(range(0, len(toks)),
                         i -> NOT list_contains(
                             flatten(list_transform(
                                 spans, p -> range(p, p + 3))), i))
               AS kept
      FROM j)
SELECT doc_id,
       coalesce(array_to_string(
                    list_transform(kept,
                                   i -> toks[CAST(i + 1 AS INT)]),
                    ' '), '') AS clean_text,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(toks) - len(kept) AS BIGINT) AS removed_tokens
FROM k
""")
def dedup_span_removal(spark, sf_dir):
    """Exact-substring REMOVAL (:func:`beats_analytics.spans
    .remove_duplicate_spans`, Lee et al. 2022 "all but one
    occurrence"): tokens covered by a corpus-duplicated word-3-gram
    are deleted except in the n-gram's globally first (doc_id, pos)
    occurrence; survivors are re-joined in order. Runs the by_hash
    scale path; the oracle rebuilds the identical surgery from n-gram
    TEXT in SQL, so the whole removal pipeline — counting, survivor
    choice, covered-index arithmetic, reassembly — is value-checked
    end to end."""
    from . import remove_duplicate_spans
    docs = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(docs, n=3, min_count=2,
                                  keep_first=True, by_hash=True)



def _lined_c4_docs(docs: DataFrame) -> DataFrame:
    """Deterministic liny pages exercising EVERY C4 rule, built from
    table columns so the oracle rebuilds the identical strings: the
    word salad folds into 6-word lines; line (doc_id+j) gets a
    terminal '.', '!', '?' or nothing by %4 (the no-punct case fails
    the terminal rule) and a 'javascript ' prefix when %7 == 0; docs
    %11 == 0 gain a 'lorem ipsum' line and docs %13 == 0 a
    curly-brace line (both page-fatal)."""
    w = F.split(F.col("text"), " ")
    nch = F.ceil(F.size(w) / F.lit(6.0)).cast("int")
    i = F.col("doc_id")

    def mkline(j):
        base = F.array_join(F.slice(w, j * 6 + 1, 6), " ")
        pre = F.when((i + j) % 7 == 0, F.lit("javascript ")) \
               .otherwise(F.lit(""))
        suf = (F.when((i + j) % 4 == 0, F.lit("."))
                .when((i + j) % 4 == 1, F.lit("!"))
                .when((i + j) % 4 == 2, F.lit("?"))
                .otherwise(F.lit("")))
        return F.concat(pre, base, suf)

    lines = F.transform(F.sequence(F.lit(0), nch - 1), mkline)
    extra = (F.when(i % 11 == 0,
                    F.array(F.lit("weird lorem ipsum text here.")))
              .when(i % 13 == 0,
                    F.array(F.lit("function f() { return 1; }")))
              .otherwise(F.array().cast("array<string>")))
    return docs.select(
        "doc_id",
        F.array_join(F.concat(lines, extra), "\n").alias("text"))



_SQL_C4_LINES = """
  SELECT doc_id,
         list_concat(
           list_transform(
             generate_series(0,
                 CAST(ceil(len(toks)/6.0) AS INT) - 1),
             j -> (CASE WHEN (doc_id + j) % 7 = 0
                        THEN 'javascript ' ELSE '' END)
                  || array_to_string(list_slice(toks, j*6+1, j*6+6), ' ')
                  || (CASE (doc_id + j) % 4 WHEN 0 THEN '.'
                      WHEN 1 THEN '!' WHEN 2 THEN '?' ELSE '' END)),
           CASE WHEN doc_id % 11 = 0
                THEN ['weird lorem ipsum text here.']
                WHEN doc_id % 13 = 0
                THEN ['function f() { return 1; }']
                ELSE [] END) AS lines
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""



@query("c4_clean", oracle=f"""
WITH lined AS ({_SQL_C4_LINES}),
r AS (
  SELECT doc_id,
         array_to_string(lines, chr(10)) AS text,
         list_transform(
           list_filter(lines,
             l -> regexp_matches(trim(l), '[.!?"”]$')
                  AND len(list_filter(
                        string_split_regex(trim(l), '\\s+'),
                        x -> x <> '')) >= 3
                  AND NOT contains(lower(trim(l)), 'javascript')),
           l -> trim(l)) AS kept
  FROM lined)
SELECT doc_id,
       coalesce(array_to_string(kept, chr(10)), '') AS text,
       CAST(len(kept) AS BIGINT) AS kept_lines,
       CASE WHEN contains(lower(text), 'lorem ipsum')
                 OR contains(text, '{{')
            THEN 'banned_substring'
            WHEN len(kept) < 5 THEN 'too_few_lines'
       END AS drop_reason
FROM r
""")
def c4_clean_q(spark, sf_dir):
    """C4 rule-based page cleaning (:func:`beats_analytics.scrub
    .c4_clean`, Raffel et al. 2020 §2.2) in audit form
    (``keep_dropped=True``): terminal-punctuation + min-words +
    javascript line rules, lorem-ipsum / curly-brace / too-few-lines
    page rules, every rule exercised by the deterministic line
    decoration. Entirely map-side — zero shuffle, zero Python."""
    from . import c4_clean
    docs = _t(spark, sf_dir, "documents")
    return c4_clean(_lined_c4_docs(docs), keep_dropped=True)



@query("mixture_sample", oracle="""
WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
s AS (SELECT lang, cnt,
             CASE lang WHEN 'en' THEN CAST(0.5 AS DOUBLE)
                       WHEN 'de' THEN CAST(0.25 AS DOUBLE)
                       WHEN 'es' THEN CAST(0.25 AS DOUBLE)
                       ELSE CAST(0.0 AS DOUBLE) END AS share
      FROM c WHERE lang IN ('en', 'de', 'es')),
t AS (SELECT min(cnt / share) AS tmax FROM s),
p AS (SELECT lang,
             CAST(floor(least(CAST(1.0 AS DOUBLE),
                              share * tmax
                              / greatest(CAST(cnt AS DOUBLE),
                                         CAST(1.0 AS DOUBLE)))
                        * 1000000) AS BIGINT) AS bound
      FROM s, t)
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept
FROM documents d JOIN p USING (lang)
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#m1'),
                          1, 15) AS BIGINT) % 1000000 < bound
GROUP BY d.lang
""")
def mixture_sample_q(spark, sf_dir):
    """Training-mix sampling (:func:`beats_analytics.sample
    .mixture_sample`): target weights en:de:es = 2:1:1 over the
    documents table; the plan (largest achievable total, per-group
    md5-bucket bounds) is computed fully in-plan — no driver collect
    — and the apply step is a broadcast join + the zero-shuffle
    deterministic bucket filter. The oracle recomputes the identical
    double arithmetic (shares, min ratio, floor bound) in SQL."""
    from . import mixture_sample
    docs = _t(spark, sf_dir, "documents")
    s = mixture_sample(docs, "lang", "doc_id",
                       weights={"en": 2, "de": 1, "es": 1}, seed="m1")
    return s.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))



@query("dedup_incremental", oracle="""
WITH seen AS (SELECT md5(text) AS k FROM documents WHERE doc_id < 250
              GROUP BY 1),
newb AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 250
  UNION ALL
  SELECT doc_id + 1000, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 2000, text FROM documents
  WHERE doc_id >= 250 AND doc_id < 300),
fresh AS (SELECT doc_id,
                 row_number() OVER (PARTITION BY md5(text)
                                    ORDER BY doc_id) AS rn
          FROM newb WHERE md5(text) NOT IN (SELECT k FROM seen))
SELECT doc_id FROM fresh WHERE rn = 1
""")
def dedup_incremental(spark, sf_dir):
    """Ingestion-time incremental dedup (:func:`beats_analytics
    .dedup.dedup_against`): the corpus's first half is the ingested
    history; the arriving batch is the second half PLUS 100 re-crawls
    of already-ingested pages (same text, new ids — must drop against
    history) PLUS 50 within-batch copies (must drop via keep-min so
    the output appends without creating duplicates). Digest-only
    anti-join: 32-byte shuffle keys, documents never move. Expected
    survivors: exactly the 250 genuinely-new pages — both drop
    mechanisms fire (asserted non-vacuous in test_dedup_against)."""
    from . import dedup_against
    i = F.col("doc_id")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    seen = docs.filter(i < 250)
    new = (docs.filter(i >= 250)
           .unionByName(docs.filter(i < 100)
                        .select((i + 1000).alias("doc_id"), "text"))
           .unionByName(docs.filter((i >= 250) & (i < 300))
                        .select((i + 2000).alias("doc_id"), "text")))
    return dedup_against(new, seen).select("doc_id")



_HTML_PRE = ('<html><!-- crawl 2026 --><head>'
             '<script type="text/javascript">var x = 1 < 2;</script>'
             '<style>p { color: red }</style></head><body><h1>')



def _html_oracle_expr() -> str:
    from .htmltext import html_strip_sql
    built = (
        "'" + _HTML_PRE.replace("'", "''") + "' || source || ' page ' || "
        "CAST(doc_id AS VARCHAR) || '!</h1><p>' || "
        "array_to_string(list_slice(string_split(text, ' '), 1, 20), ' ')"
        " || ' &amp; more.</p><div>id &#39;' || "
        "CAST(doc_id AS VARCHAR) || '&#39; &lt;ok&gt;</div></body></html>'")
    return html_strip_sql(built)



@query("html_extract", oracle=f"""
SELECT doc_id, {_html_oracle_expr()} AS text FROM documents
""")
def html_extract(spark, sf_dir):
    """HTML → text extraction (:mod:`beats_analytics.htmltext`):
    pages are built deterministically from table columns — comments,
    script/style subtrees (with a bare ``<`` inside the script),
    block tags, entities — encoded to BINARY (the north-star input
    shape) and run through ``extract_text``; the oracle replays the
    identical shared strip chain (``html_strip_sql``) over the
    identically-built string. Pure regexp projection: zero shuffle,
    zero Python."""
    from . import extract_text
    docs = _t(spark, sf_dir, "documents")
    istr = F.col("doc_id").cast("string")
    first20 = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 20),
                           " ")
    built = F.concat(
        F.lit(_HTML_PRE), F.col("source"), F.lit(" page "), istr,
        F.lit("!</h1><p>"), first20, F.lit(" &amp; more.</p><div>id &#39;"),
        istr, F.lit("&#39; &lt;ok&gt;</div></body></html>"))
    pages = docs.select("doc_id", F.encode(built, "UTF-8").alias("html"))
    return extract_text(pages, "html", "text").select("doc_id", "text")



@query("kmeans_assign", oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings),
c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 4),
s AS (SELECT v.vec_id, c.centroid_id,
             round(list_dot_product(v.e, c.ce)
                   / (sqrt(list_dot_product(v.e, v.e))
                      * sqrt(list_dot_product(c.ce, c.ce))), 6) AS sim
      FROM v, c),
r AS (SELECT vec_id, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, centroid_id ASC)
               AS rn
      FROM s)
SELECT vec_id, centroid_id FROM r WHERE rn = 1
""")
def kmeans_assign(spark, sf_dir):
    """Nearest-centroid assignment (:func:`beats_analytics
    .similarity.ivf_assign` — the inverted-file build step and the
    assignment half of k-means): every embedding to its max-cosine
    centroid, ties to the lowest centroid id, against four fixed
    centroids taken from the table so the oracle reproduces the
    identical rounded argmax. One broadcast, zero shuffle of the
    vector side."""
    from . import ivf_assign
    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    out = ivf_assign(emb.select("vec_id", "embedding"), cent,
                     out_col="centroid_id")
    return out.select("vec_id", "centroid_id")



@query("lm_quality_score", oracle="""
WITH t AS (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '') AS toks
           FROM documents),
u AS (SELECT w1, count(*) AS c1
      FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1),
g AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1,
             toks[CAST(i AS INT) + 1] AS w2
      FROM t, UNNEST(range(1, len(toks))) AS r(i)
      WHERE len(toks) >= 2),
b AS (SELECT w1, w2, count(*) AS c12 FROM g GROUP BY 1, 2),
v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM u),
s AS (SELECT g.doc_id,
             CAST(round(ln((coalesce(b.c12, 0) + 1.0)
                           / (coalesce(u.c1, 0) + v.v)) * 1000000)
                  AS BIGINT) AS lp
      FROM g LEFT JOIN b USING (w1, w2) LEFT JOIN u USING (w1), v),
a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(lp) AS BIGINT) AS lp_micro
      FROM s GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_bigrams, 0) AS n_bigrams,
       coalesce(a.lp_micro, 0) AS lp_micro,
       CASE WHEN coalesce(a.n_bigrams, 0) > 0
            THEN CAST(floor(a.lp_micro / a.n_bigrams) AS BIGINT)
       END AS avg_lp_micro
FROM documents d LEFT JOIN a USING (doc_id)
""")
def lm_quality_score(spark, sf_dir):
    """CCNet-style LM quality scoring (:mod:`beats_analytics.lm`):
    a Laplace-smoothed bigram model trained on the corpus itself,
    every document scored by mean bigram log-probability. Each
    bigram's ln P is quantized to integer micro-nats BEFORE any
    cross-row sum, so per-doc totals are integer-exact across
    engines and partitionings (the cents trick for logprobs)."""
    from . import lm_score
    docs = _t(spark, sf_dir, "documents")
    return lm_score(docs)



@query("nb_quality", oracle=r"""
WITH t AS (SELECT doc_id,
                  CASE WHEN source IN ('src0', 'src1', 'src2')
                       THEN 1 ELSE 0 END AS y,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '') AS toks
           FROM documents),
occ AS (SELECT doc_id, y, unnest(toks) AS w FROM t),
tok AS (SELECT w, CAST(sum(y) AS BIGINT) AS c_pos,
               CAST(sum(1 - y) AS BIGINT) AS c_neg
        FROM occ GROUP BY w),
tot AS (SELECT CAST(sum(c_pos) AS DOUBLE) AS np,
               CAST(sum(c_neg) AS DOUBLE) AS nn,
               CAST(count(*) AS DOUBLE) AS v
        FROM tok),
pri AS (SELECT CAST(round(ln((sum(y) + 1.0) / (count(*) + 2.0))
                          * 1000000) AS BIGINT)
             - CAST(round(ln((count(*) - sum(y) + 1.0)
                             / (count(*) + 2.0)) * 1000000) AS BIGINT)
               AS prior_micro
        FROM t),
s AS (SELECT occ.doc_id,
             CAST(round(ln((tok.c_pos + 1.0) / (tot.np + tot.v))
                        * 1000000) AS BIGINT)
           - CAST(round(ln((tok.c_neg + 1.0) / (tot.nn + tot.v))
                        * 1000000) AS BIGINT) AS lw
      FROM occ JOIN tok USING (w), tot),
a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(lw) AS BIGINT) AS ll_micro
      FROM s GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(a.n_tokens, 0) AS n_tokens,
       CAST(pri.prior_micro + coalesce(a.ll_micro, 0) AS BIGINT)
         AS nb_micro,
       (pri.prior_micro + coalesce(a.ll_micro, 0)) > 0 AS pred_quality
FROM t LEFT JOIN a USING (doc_id), pri
""")
def nb_quality_q(spark, sf_dir):
    """Naive-Bayes quality classifier
    (:func:`beats_analytics.lm.nb_quality`) — the GPT-3-recipe
    curated-vs-crawl scorer trained in-plan: positives are the
    'curated' sources (src0-2), every document scored by the sum of
    per-token log-odds quantized to integer micro-nats per DISTINCT
    ln before any cross-row sum, plus Laplace-smoothed priors. One
    corpus explode, one partial-combining vocab agg, one vocab join,
    one per-doc re-agg — documents never move whole."""
    from . import nb_quality
    docs = _t(spark, sf_dir, "documents")
    return nb_quality(
        docs, F.col("source").isin("src0", "src1", "src2"))



@query("oov_rate", oracle=r"""
WITH t AS (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '') AS toks
           FROM documents),
occ AS (SELECT doc_id, unnest(toks) AS w FROM t),
vocab AS (SELECT w FROM occ GROUP BY w HAVING count(*) >= 5),
p AS (SELECT occ.doc_id,
             CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END AS oov
      FROM occ LEFT JOIN vocab USING (w)),
a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(oov) AS BIGINT) AS n_oov
      FROM p GROUP BY doc_id)
SELECT t.doc_id,
       coalesce(a.n_tokens, 0) AS n_tokens,
       coalesce(a.n_oov, 0) AS n_oov,
       CASE WHEN coalesce(a.n_tokens, 0) > 0
            THEN CAST((a.n_oov * 1000000) // a.n_tokens AS BIGINT)
       END AS oov_micro
FROM t LEFT JOIN a USING (doc_id)
""")
def oov_rate_q(spark, sf_dir):
    """Out-of-vocabulary rate
    (:func:`beats_analytics.textstats.oov_rate`) against a
    frozen vocabulary — here the corpus's own frequent types (count
    ≥ 5), the tokenizer-fit diagnostic: rising OOV means the corpus
    is drifting off the tokenizer and fragmenting into char-level
    tokens. One explode, a LEFT probe against the vocab table
    (32k-256k rows at production scale — broadcastable; spelled as a
    plain join so AQE decides), one re-agg; exchanges carry
    (id, token) pairs only. Integer micro-ratios, oracle-exact."""
    from . import oov_rate
    from .dedup import tokens as _toks
    docs = _t(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(_toks(F.col("text"))).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
             .filter(F.col("c") >= 5).select("w"))
    return oov_rate(docs, vocab)



@query("winsorize_values", oracle="""
WITH th AS (SELECT event_type,
                   round(quantile_cont(value, 0.05), 6) AS lo,
                   round(quantile_cont(value, 0.95), 6) AS hi
            FROM events GROUP BY event_type),
j AS (SELECT e.event_type, e.value, th.lo, th.hi
      FROM events e JOIN th USING (event_type))
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       any_value(lo) AS lo, any_value(hi) AS hi,
       CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_lo,
       CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_hi,
       CAST(sum(CAST(round(least(greatest(value, lo), hi) * 100)
                     AS BIGINT)) AS BIGINT) AS wsum_cents
FROM j GROUP BY event_type
""")
def winsorize_values_q(spark, sf_dir):
    """Winsorization (:func:`beats_analytics.events.winsorize`):
    clip event values to per-type exact [p5, p95] percentiles — the
    robust-stats cleanup before metric aggregation. Thresholds ride
    ONE exact-percentile agg and broadcast back (the big side never
    shuffles); clipping is a codegen projection. The rollup sums
    clipped values in integer cents (the money trick) so every
    output is engine-exact."""
    from . import winsorize
    ev = _t(spark, sf_dir, "events")
    w = winsorize(ev, "value", by="event_type", p_lo=0.05, p_hi=0.95,
                  keep_bounds=True)
    return (w.groupBy("event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.any_value("lo").alias("lo"),
                 F.any_value("hi").alias("hi"),
                 F.sum(F.col("clip_lo").cast("bigint")).alias("n_clip_lo"),
                 F.sum(F.col("clip_hi").cast("bigint")).alias("n_clip_hi"),
                 F.sum(F.round(F.col("value_w") * 100).cast("bigint"))
                 .alias("wsum_cents")))



@query("corpus_kl_drift", oracle=r"""
WITH t AS (SELECT source AS g,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '') AS toks
           FROM documents),
occ AS (SELECT g, unnest(toks) AS w FROM t),
gw AS (SELECT g, w, CAST(count(*) AS BIGINT) AS cgw
       FROM occ GROUP BY g, w),
vocab AS (SELECT w, CAST(sum(cgw) AS BIGINT) AS cw
          FROM gw GROUP BY w),
gtot AS (SELECT g, CAST(sum(cgw) AS BIGINT) AS ng FROM gw GROUP BY g),
tot AS (SELECT CAST(sum(cw) AS DOUBLE) AS n,
               CAST(count(*) AS DOUBLE) AS v FROM vocab),
grid AS (SELECT gtot.g, gtot.ng,
                CAST(coalesce(gw.cgw, 0) + 1 AS BIGINT) AS cg1,
                CAST(round(ln((coalesce(gw.cgw, 0) + 1.0)
                              / (gtot.ng + tot.v)) * 1000000) AS BIGINT)
              - CAST(round(ln((vocab.cw + 1.0) / (tot.n + tot.v))
                           * 1000000) AS BIGINT) AS t
         FROM vocab CROSS JOIN gtot
         LEFT JOIN gw ON gw.g = gtot.g AND gw.w = vocab.w, tot)
SELECT grid.g AS source, grid.ng AS n_tokens,
       CAST(grid.ng + tot.v AS BIGINT) AS smoothed_mass,
       CAST(sum(grid.cg1 * grid.t) AS BIGINT) AS kl_scaled_micro
FROM grid, tot GROUP BY grid.g, grid.ng, tot.v
""")
def corpus_kl_drift_q(spark, sf_dir):
    """Per-source token-distribution KL drift
    (:func:`beats_analytics.lm.token_kl`): how far each source's
    Laplace-smoothed unigram distribution sits from the corpus blend
    — the data-mixture diagnostic. Reported scaled by the smoothed
    mass so the aggregate is an integer sum of per-distinct-token
    quantized ln differences (oracle-exact). One explode, two
    partial-combining aggs, one vocab × broadcast(groups) grid."""
    from . import token_kl
    docs = _t(spark, sf_dir, "documents")
    return token_kl(docs, by="source")



@query("char_entropy", oracle=r"""
WITH t AS (SELECT doc_id, text,
                  CAST(length(text) AS BIGINT) AS n,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '') AS toks
           FROM documents),
ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
       FROM t WHERE n > 0),
chh AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
        FROM ch GROUP BY doc_id, c),
ce AS (SELECT chh.doc_id,
              CAST(count(*) AS BIGINT) AS distinct_chars,
              CAST(-sum(chh.k *
                        CAST(round(ln(chh.k * 1.0 / t.n) * 1000000)
                             AS BIGINT)) AS BIGINT) AS char_ent_micro
       FROM chh JOIN t USING (doc_id) GROUP BY chh.doc_id),
tn AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS nt FROM t),
tkh AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k
        FROM (SELECT doc_id, unnest(toks) AS w FROM t)
        GROUP BY doc_id, w),
te AS (SELECT tkh.doc_id,
              CAST(count(*) AS BIGINT) AS distinct_tokens,
              CAST(-sum(tkh.k *
                        CAST(round(ln(tkh.k * 1.0 / tn.nt) * 1000000)
                             AS BIGINT)) AS BIGINT) AS tok_ent_micro
       FROM tkh JOIN tn USING (doc_id) GROUP BY tkh.doc_id)
SELECT t.doc_id, t.n AS n_cp,
       coalesce(ce.distinct_chars, 0) AS distinct_chars,
       coalesce(ce.char_ent_micro, 0) AS char_ent_micro,
       CASE WHEN t.n > 0
            THEN CAST(coalesce(ce.char_ent_micro, 0) // t.n AS BIGINT)
       END AS char_ent_per_cp_micro,
       tn.nt AS n_tokens,
       coalesce(te.distinct_tokens, 0) AS distinct_tokens,
       coalesce(te.tok_ent_micro, 0) AS tok_ent_micro,
       CASE WHEN tn.nt > 0
            THEN CAST((1000000 * te.distinct_tokens) // tn.nt AS BIGINT)
       END AS ttr_micro
FROM t JOIN tn USING (doc_id)
LEFT JOIN ce USING (doc_id) LEFT JOIN te USING (doc_id)
""")
def char_entropy_q(spark, sf_dir):
    """Entropy-based gibberish/diversity signals
    (:func:`beats_analytics.textstats.entropy_stats_arrow`):
    character- and token-distribution Shannon entropy plus type-token
    ratio per document, every output an integer (micro-nats / micro-
    ratio) via per-distinct-value ln quantization — the lm.py cents
    trick — so DuckDB reproduces all six statistics bit-for-bit. One
    ArrowEvalPython projection, zero shuffle; the oracle pays two
    explode+groupBys for what the kernel does per-row."""
    from . import entropy_stats_arrow
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", entropy_stats_arrow("text").alias("s")).select(
        "doc_id", "s.*")



def _unicode_clean_oracle() -> str:
    from .unicode import unicode_clean_sql
    messy = ("text || ' e' || chr(769) || ' x' || chr(8203) || 'y' "
             "|| chr(160) || 'z' || chr(7)")
    return unicode_clean_sql(messy)



@query("accent_fold", oracle="""
WITH acc AS (
  SELECT lang, text, translate(text, 'aeo', 'áéö') AS accented
  FROM documents),
f AS (SELECT lang, text, accented,
             replace(replace(replace(replace(replace(translate(translate(text, 'aeo', 'áéö'), 'àáâãäåāăąèéêëēĕėęěìíîïĩīĭįıòóôõöøōŏőùúûüũūŭůűųçćĉċčñńņňðďđğĝģĥśŝşšţťŧýÿŷźżžŕŗřĺļľŀłŵÀÁÂÃÄÅĀĂĄÈÉÊËĒĔĖĘĚÌÍÎÏĨĪĬĮÒÓÔÕÖØŌŎŐÙÚÛÜŨŪŬŮŰŲÇĆĈĊČÑŃŅŇÐĎĐĞĜĢĤŚŜŞŠŢŤŦÝŸŶŹŻŽŔŖŘĹĻĽĿŁŴ', 'aaaaaaaaaeeeeeeeeeiiiiiiiiiooooooooouuuuuuuuuucccccnnnndddggghsssstttyyyzzzrrrlllllwAAAAAAAAAEEEEEEEEEIIIIIIIIOOOOOOOOOUUUUUUUUUUCCCCCNNNNDDDGGGHSSSSTTTYYYZZZRRRLLLLLW'), 'ß', 'ss'), 'æ', 'ae'), 'œ', 'oe'), 'Æ', 'AE'), 'Œ', 'OE') AS folded
      FROM acc)
SELECT lang, count(*) AS n,
       CAST(sum(CASE WHEN accented <> text THEN 1 ELSE 0 END)
            AS BIGINT) AS n_accented,
       CAST(sum(CASE WHEN folded = text THEN 1 ELSE 0 END) AS BIGINT)
         AS n_roundtrip
FROM f GROUP BY lang
""")
def accent_fold_q(spark, sf_dir):
    """Accent folding
    (:func:`beats_analytics.unicode.fold_accents`): documents
    accented deterministically (a→á, e→é, o→ö) and folded back — the
    normalization step before cross-language host/token matching
    (café.example must dedup with cafe.example). Pure translate +
    replace chain, zero Python, whole-stage codegen; the table is
    derived from explicit pairs so FROM/TO can never misalign, and
    the identical Postgres translate() contract in DuckDB makes the
    fold — and the round-trip proof — oracle-exact. n_roundtrip == n
    certifies fold(accent(x)) == x on every document."""
    from .unicode import fold_accents
    docs = _t(spark, sf_dir, "documents")
    accented = F.translate(F.col("text"), "aeo", "áéö")
    return (docs.select("lang", "text", accented.alias("accented"))
            .select("lang", "text", "accented",
                    fold_accents(F.col("accented")).alias("folded"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum((F.col("accented") != F.col("text"))
                       .cast("long")).alias("n_accented"),
                 F.sum((F.col("folded") == F.col("text"))
                       .cast("long")).alias("n_roundtrip")))



@query("unicode_clean", oracle=f"""
SELECT doc_id, {_unicode_clean_oracle()} AS text_clean FROM documents
""")
def unicode_clean_q(spark, sf_dir):
    """Unicode normalization (:mod:`beats_analytics.unicode`):
    documents decorated with a decomposed accent (e + U+0301), a
    zero-width space, an NBSP and a BEL control; the cleaner must NFC
    the accent, drop the zero-width and the control, and unify the
    space — and the oracle replays the identical chain via DuckDB's
    nfc_normalize + the shared regexp table. One ArrowEvalPython node
    (the NFC kernel), rest codegen, zero shuffle."""
    from . import unicode_clean
    docs = _t(spark, sf_dir, "documents")
    messy = F.concat(F.col("text"),
                     F.lit(" é x​y z\x07"))
    return docs.select("doc_id",
                       unicode_clean(messy).alias("text_clean"))



def _ccnet_oracle() -> str:
    # reuse the lm_quality_score oracle verbatim as a CTE: ONE source
    # of truth for the scoring arithmetic on the SQL side too
    return f"""
WITH lm AS ({ORACLES["lm_quality_score"]}),
j AS (SELECT d.doc_id, d.lang, lm.avg_lp_micro
      FROM documents d JOIN lm USING (doc_id))
SELECT doc_id, lang,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS bucket
FROM (SELECT doc_id, lang,
             ntile(3) OVER (PARTITION BY lang
                            ORDER BY avg_lp_micro DESC NULLS LAST,
                                     doc_id ASC) AS nt
      FROM j)
"""



@query("ccnet_buckets", oracle=_ccnet_oracle())
def ccnet_buckets(spark, sf_dir):
    """The CCNet corpus split (Wenzek et al. 2020): per-language
    head/middle/tail terciles of the LM quality score
    (:func:`beats_analytics.sample.quantile_buckets` over
    :func:`~beats_analytics.lm.lm_score`). The (score, doc_id)
    total order makes tercile membership a pure function of the data;
    the oracle embeds the lm_quality_score oracle verbatim as its
    scoring CTE."""
    from . import lm_score, quantile_buckets
    docs = _t(spark, sf_dir, "documents")
    scored = (lm_score(docs)
              .join(docs.select("doc_id", "lang"), "doc_id"))
    out = quantile_buckets(scored, "avg_lp_micro", "doc_id", k=3,
                           by="lang",
                           labels=("head", "middle", "tail"))
    return out.select("doc_id", "lang", "bucket")



_DSIR_CTES = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS t
  FROM documents),
feats AS (
  SELECT doc_id, lang,
         list_concat(t, CASE WHEN len(t) >= 2
             THEN list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i+1])
             ELSE [] END) AS gs
  FROM toks),
occ AS (
  SELECT doc_id, lang,
         CAST(CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 10000
              AS INT) AS bucket
  FROM feats, unnest(gs) AS u(g)),
rc AS (SELECT bucket, count(*) AS c_r FROM occ GROUP BY bucket),
tc AS (SELECT bucket, count(*) AS c_t FROM occ WHERE lang = 'en'
       GROUP BY bucket),
tots AS (SELECT (SELECT CAST(COALESCE(sum(c_r), 0) + 10000 AS DOUBLE)
                 FROM rc) AS trb,
                (SELECT CAST(COALESCE(sum(c_t), 0) + 10000 AS DOUBLE)
                 FROM tc) AS ttb),
ratios AS (
  SELECT COALESCE(rc.bucket, tc.bucket) AS bucket,
         CAST(round(ln(((COALESCE(c_t, 0) + 1.0) * trb)
                       / ((COALESCE(c_r, 0) + 1.0) * ttb))
                    * 1000000.0) AS BIGINT) AS lr_micro
  FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket, tots),
scored AS (
  SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(r.lr_micro) AS BIGINT) AS lr_micro
  FROM occ o JOIN ratios r USING (bucket) GROUP BY o.doc_id),
filled AS (
  SELECT b.doc_id, COALESCE(n_feats, 0) AS n_feats,
         COALESCE(s.lr_micro, 0) AS lr_micro
  FROM (SELECT DISTINCT doc_id FROM documents) b
  LEFT JOIN scored s USING (doc_id))
"""



@query("dsir_weights", oracle=_DSIR_CTES + """
SELECT doc_id, n_feats, lr_micro FROM filled
""")
def dsir_weights(spark, sf_dir):
    """DSIR log importance weights (Xie et al. 2023,
    :mod:`beats_analytics.dsir`): hashed unigram+bigram features
    (md5 60-bit, 10k buckets), target = English documents, raw = the
    whole corpus; per-doc weight = integer micro-nat sum of its
    features' smoothed target/raw log ratios. The fitted ratio table
    is at most 10k rows regardless of corpus size, so the scoring
    join is always a broadcast; documents never shuffle whole."""
    from . import dsir_model, dsir_score
    docs = _t(spark, sf_dir, "documents")
    model = dsir_model(docs, docs.filter(F.col("lang") == "en"))
    return dsir_score(docs, model)



@query("dsir_select", oracle=_DSIR_CTES + """,
gn AS (
  SELECT *, CAST(round(-ln(-ln(
           (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                || '#g'), 1, 15) AS BIGINT) % 1048576 AS DOUBLE) + 0.5)
           / 1048576.0)) * 1000000.0) AS BIGINT) AS gm
  FROM filled)
SELECT doc_id, n_feats, lr_micro,
       CAST(lr_micro + gm AS BIGINT) AS total_micro
FROM gn ORDER BY total_micro DESC, doc_id ASC LIMIT 100
""")
def dsir_select(spark, sf_dir):
    """DSIR importance RESAMPLING: Gumbel top-k (k=100) over the
    log weights, the paper's sampling-without-replacement. The Gumbel
    draw is a pure md5 hash of the doc key (uniform -> -ln(-ln u),
    micro-quantized), so the selected set is identical across
    engines, partitionings and reruns; Spark executes the top-k as
    TakeOrderedAndProject (per-partition heads merged on the driver
    -- k rows cross the wire, not the corpus)."""
    from . import dsir_resample
    docs = _t(spark, sf_dir, "documents")
    return dsir_resample(docs,
                         target=docs.filter(F.col("lang") == "en"),
                         k=100)



@query("token_budget", oracle="""
WITH h AS (
  SELECT doc_id, lang, n_chars,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#tb'),
              1, 15) AS BIGINT) AS hh
  FROM documents),
c AS (
  SELECT doc_id, lang, n_chars,
         sum(n_chars) OVER (ORDER BY hh, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM h)
SELECT doc_id, lang, n_chars FROM c WHERE cum <= 60000
""")
def token_budget_q(spark, sf_dir):
    """Token-budget corpus prefix: keep exactly the docs whose
    running token total in the md5-shuffled order stays <= 60k —
    "the first B tokens of a shuffled corpus", the training-mix
    budget step. Spark executes it bucketed (per-bucket sums + one
    boundary window over ~1/n_buckets of the data), the oracle IS
    the defining global window (sample.py)."""
    from . import token_budget_sample
    docs = _t(spark, sf_dir, "documents")
    out = token_budget_sample(
        docs.select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", 60_000, seed="tb", n_buckets=64)
    return out.select("doc_id", "lang", "n_chars")



@query("corpus_shuffle", oracle="""
WITH h AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#ep0'),
              1, 15) AS BIGINT) AS hh
  FROM documents)
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY hh, doc_id) AS BIGINT)
           AS shuffle_pos
FROM h
""")
def corpus_shuffle_q(spark, sf_dir):
    """Deterministic epoch shuffle: every doc's 1-based position in
    the md5-priority permutation, computed as a distributed rank
    (bucket count cumsum -> broadcast offsets + per-bucket
    row_number; no single-partition global sort). Seed = epoch name;
    the oracle is the defining single window (sample.py)."""
    from . import corpus_shuffle
    docs = _t(spark, sf_dir, "documents")
    return corpus_shuffle(docs.select("doc_id"), "doc_id",
                          seed="ep0", n_buckets=64) \
        .select("doc_id", "shuffle_pos")



@query("token_budget_mix", oracle="""
WITH h AS (
  SELECT doc_id, lang, n_chars,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#mix'),
              1, 15) AS BIGINT) AS hh
  FROM documents WHERE lang IN ('en', 'de')),
c AS (
  SELECT doc_id, lang, n_chars,
         sum(n_chars) OVER (PARTITION BY lang ORDER BY hh, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM h)
SELECT doc_id, lang, n_chars FROM c
WHERE (lang = 'en' AND cum <= 20000)
   OR (lang = 'de' AND cum <= 8000)
""")
def token_budget_mix_q(spark, sf_dir):
    """Per-source token budgets ("20k en chars + 8k de chars"): each
    group gets its own independent md5-shuffled prefix; groups
    without a budget drop entirely. One boundary bucket per group;
    the oracle is the defining PARTITION BY window
    (sample.py)."""
    from . import token_budget_sample
    docs = _t(spark, sf_dir, "documents")
    out = token_budget_sample(
        docs.select("doc_id", "lang", "n_chars"),
        "doc_id", "n_chars", {"en": 20_000, "de": 8_000},
        seed="mix", n_buckets=64, by="lang")
    return out.select("doc_id", "lang", "n_chars")



@query("semdedup", oracle="""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings),
c AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 4),
s AS (SELECT v.vec_id, c.cid,
             round(list_dot_product(v.e, c.ce)
                   / (sqrt(list_dot_product(v.e, v.e))
                      * sqrt(list_dot_product(c.ce, c.ce))), 6) AS sim
      FROM v, c),
a AS (SELECT vec_id, cid, sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cid ASC) AS rn
      FROM s),
r AS (SELECT vec_id, cid, sim AS centroid_sim,
             row_number() OVER (PARTITION BY cid
                                ORDER BY sim ASC, vec_id ASC) AS rk
      FROM a WHERE rn = 1),
d AS (SELECT DISTINCT j.vec_id
      FROM r j JOIN r i ON i.cid = j.cid AND i.rk < j.rk
      JOIN v vj ON vj.vec_id = j.vec_id
      JOIN v vi ON vi.vec_id = i.vec_id
      WHERE round(list_dot_product(vi.e, vj.e)
                  / (sqrt(list_dot_product(vi.e, vi.e))
                     * sqrt(list_dot_product(vj.e, vj.e))), 6) >= 0.3)
SELECT r.vec_id, r.cid AS centroid_id, r.centroid_sim,
       d.vec_id IS NULL AS kept
FROM r LEFT JOIN d ON d.vec_id = r.vec_id
""")
def semdedup_q(spark, sf_dir):
    """SemDeDup semantic pruning (Abbas et al. 2023) against four
    exemplar centroids (same convention as kmeans_assign, so the
    oracle reproduces the identical rounded argmax): rank each
    cluster by centroid cosine ascending (keep='far' — the paper's
    best setting), drop j iff any earlier-ranked i has
    round(cos(i,j),6) >= 0.3. The oracle IS the defining triangular
    rule (similarity.py)."""
    from . import semdedup
    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    out = semdedup(emb.select("vec_id", "embedding"), cent, 0.3)
    return out.select("vec_id", "centroid_id", "centroid_sim", "kept")



@query("sessionize_events", oracle="""
WITH d AS (SELECT user_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                > 1800 * 1000000
             THEN 1 ELSE 0 END AS st
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (SELECT user_id, ts,
        CAST(sum(st) OVER (PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq
      FROM d)
SELECT user_id, session_seq,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0, 6)
         AS duration_s
FROM s GROUP BY user_id, session_seq
""")
def sessionize_events(spark, sf_dir):
    """Gap-based sessionization (:func:`beats_analytics.events
    .session_rollup`): 30-minute inactivity timeout per user over the
    event stream — the first thing every log-analytics consumer does
    with shipped events. One hash exchange on user_id; the lag and
    the running session counter share one window sort, and the
    rollup groupBy reuses the window's partitioning. The gap test is
    integer epoch-microseconds (exact boundary, no float time)."""
    from . import session_rollup
    ev = _t(spark, sf_dir, "events")
    out = session_rollup(ev, key_col="user_id", ts_col="ts",
                         gap_seconds=1800)
    return out.select("user_id", "session_seq", "session_start",
                      "session_end", "n_events",
                      F.round("duration_s", 6).alias("duration_s"))



@query("latency_percentiles", oracle="""
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
""")
def latency_percentiles(spark, sf_dir):
    """Exact interpolated percentile rollup (:func:`beats_analytics
    .events.percentile_rollup`) — the per-service latency
    report. Spark's exact ``percentile`` aggregate and DuckDB's
    ``quantile_cont`` share the closest-ranks linear-interpolation
    definition, so rounded values match bit-for-bit; approx sketches
    never would (documented there)."""
    from . import percentile_rollup
    ev = _t(spark, sf_dir, "events")
    return percentile_rollup(ev, "event_type", "value",
                             percentiles=(0.5, 0.95, 0.99))



@query("asof_enrich", oracle="""
SELECT e.event_id, e.user_id,
       (SELECT s.event_id FROM events s
        WHERE s.user_id = e.user_id AND s.event_type = 'signup'
          AND s.ts <= e.ts
        ORDER BY s.ts DESC, s.event_id DESC LIMIT 1) AS asof_event_id
FROM events e WHERE e.event_type = 'error'
""")
def asof_enrich(spark, sf_dir):
    """Backward-inclusive as-of join (:func:`beats_analytics
    .events.asof_join`): each error event picks up the most recent
    signup of the same user ("state as of this event"). Spark has no
    asof operator and the range-join spelling explodes N x M per key;
    this is the linear union + one-exchange + running
    last(ignorenulls) form — the oracle is the defining correlated
    subquery."""
    from . import asof_join
    ev = _t(spark, sf_dir, "events")
    sign = ev.filter(F.col("event_type") == "signup") \
             .select("user_id", "ts", "event_id")
    err = ev.filter(F.col("event_type") == "error")
    out = asof_join(err, sign, on="user_id",
                    payload_cols=["event_id"], tie_cols=["event_id"])
    return out.select("event_id", "user_id", "asof_event_id")



@query("inverted_index", oracle=r"""
WITH x AS (SELECT DISTINCT doc_id,
                  unnest(list_filter(
                      string_split_regex(lower(text), '\s+'),
                      t -> t <> '')) AS term
           FROM documents)
SELECT term, count(*) AS doc_freq,
       coalesce(array_to_string(list_sort(array_agg(doc_id)), ','),
                '') AS postings
FROM x GROUP BY term HAVING count(*) BETWEEN 2 AND 400
""")
def inverted_index_q(spark, sf_dir):
    """Posting-list build (:func:`beats_analytics.terms
    .inverted_index`): term -> sorted distinct doc ids + document
    frequency, with min_df/max_df pruning (the stopword posting list
    is ~the whole corpus; real indexes shard or skip it). postings
    serialize to a comma string so the value-hash compares the exact
    list order (sort_array makes it a pure function of the data, not
    of shuffle arrival)."""
    from . import inverted_index
    docs = _t(spark, sf_dir, "documents")
    out = inverted_index(docs, min_df=2, max_df=400)
    return out.select(
        "term", "doc_freq",
        F.concat_ws(",", F.transform(
            "postings", lambda x: x.cast("string"))).alias("postings"))



@query("phrase_search", oracle=r"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS t
  FROM documents),
m AS (
  SELECT doc_id,
         list_filter(range(1, greatest(len(t) - 1, 0) + 1),
                     i -> t[i] = 'query' AND t[i+1] = 'table') AS hits
  FROM t)
SELECT doc_id AS id,
       CAST(len(hits) AS BIGINT) AS n_matches,
       CAST(list_min(hits) - 1 AS INT) AS first_pos
FROM m WHERE len(hits) > 0
""")
def phrase_search_q(spark, sf_dir):
    """Positional-index phrase search
    (:func:`beats_analytics.terms.phrase_search`): docs whose
    token stream contains "query table" consecutively, via posting
    filters + the shift-and-intersect adjacency join — never a LIKE
    scan of every document byte. The oracle finds the same matches by
    scanning each token list directly (algorithm-independent), so
    position arithmetic, overlap counting, and the 0-based first_pos
    are all value-checked."""
    from .terms import phrase_search
    docs = _t(spark, sf_dir, "documents")
    return phrase_search(docs, "query table")



@query("collocations", oracle=r"""
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS t
  FROM documents),
bi AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS r(i)),
bc AS (SELECT w1, w2, count(*) AS n_pair FROM bi GROUP BY 1, 2),
uni AS (
  SELECT u AS w, count(*) AS n_w
  FROM (SELECT unnest(t) AS u FROM t) GROUP BY 1),
tot AS (SELECT sum(n_pair) AS n_total FROM bc)
SELECT w1, w2, n_pair,
       CAST((n_pair * n_total * 1000000) // (a.n_w * b.n_w) AS BIGINT)
         AS score_micro
FROM bc JOIN uni a ON a.w = w1 JOIN uni b ON b.w = w2, tot
WHERE n_pair >= 5
ORDER BY score_micro DESC, w1, w2 LIMIT 20
""")
def collocations_q(spark, sf_dir):
    """Bigram collocations by integer-micro-unit lift
    (:func:`beats_analytics.terms.collocations`): PMI's ranking
    without its log — ``ln`` is the one piece libm renders
    differently per engine, integer DIV is exact everywhere, so the
    top-20 table (scores included) hash-matches the oracle. Bigrams
    come from zipping each token array with its own tail (map-side,
    no self-join); both count aggs partial-combine, so stopword-hot
    keys reach reducers pre-combined."""
    from .terms import collocations
    docs = _t(spark, sf_dir, "documents")
    return collocations(docs, min_count=5, k=20)



@query("sparse_cosine", oracle=r"""
WITH tf AS (
  SELECT doc_id AS id, u AS term, count(*) AS tf
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                      i -> array_to_string(t[i:i+2], ' '))) AS u
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x <> '') AS t
              FROM documents)
        WHERE len(t) >= 3)
  GROUP BY 1, 2),
norms AS (SELECT id, sqrt(sum(tf * tf)) AS nrm FROM tf GROUP BY 1),
dots AS (
  SELECT a.id AS id_a, b.id AS id_b, sum(a.tf * b.tf) AS dot
  FROM tf a JOIN tf b ON a.term = b.term AND a.id < b.id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(dot / (x.nrm * y.nrm), 6) AS cosine
FROM dots JOIN norms x ON x.id = id_a JOIN norms y ON y.id = id_b
WHERE dot / (x.nrm * y.nrm) >= 0.3
""")
def sparse_cosine_q(spark, sf_dir):
    """Bag-of-words cosine join
    (:func:`beats_analytics.terms.sparse_cosine_pairs`): 3-gram
    term-frequency vectors compared through the inverted index — no
    embeddings, no model; the index IS the similarity structure.
    Integer dot products; norms via sqrt, which (unlike ln/exp) is
    IEEE correctly-rounded, so the cosine VALUES hash-match the
    oracle, not just the pair set. N-GRAM terms are what make the
    self-join tractable: unigram terms on a small-vocabulary corpus
    measured 129 s at sf0.1 ('the' joins everything to everything);
    3-grams read ~6 s with identical operator code. The sparse
    complement to dedup_embedding/semdedup on the dense side."""
    from .terms import sparse_cosine_pairs
    docs = _t(spark, sf_dir, "documents")
    return sparse_cosine_pairs(docs, threshold=0.3, ngram=3)



@query("rank_fusion", oracle="""
WITH r1 AS (SELECT doc_id AS id,
                   row_number() OVER (ORDER BY n_chars DESC, doc_id)
                     AS rank
            FROM documents),
r2 AS (SELECT doc_id AS id,
              row_number() OVER (
                ORDER BY len(string_split(text, ' ')) DESC, doc_id)
                AS rank
       FROM documents),
r3 AS (SELECT doc_id AS id,
              row_number() OVER (ORDER BY md5(text), doc_id) AS rank
       FROM documents),
u AS (
  SELECT id, 1000000 // (60 + rank) AS c FROM r1
  UNION ALL SELECT id, 1000000 // (60 + rank) FROM r2
  UNION ALL SELECT id, 1000000 // (60 + rank) FROM r3)
SELECT id, CAST(sum(c) AS BIGINT) AS rrf_micro,
       CAST(count(*) AS INT) AS n_lists
FROM u GROUP BY id
ORDER BY rrf_micro DESC, id LIMIT 25
""")
def rank_fusion_q(spark, sf_dir):
    """Reciprocal-rank fusion
    (:func:`beats_analytics.similarity.rrf_fuse`): three
    deterministic document rankings — by length, by whitespace token
    count, and a content-hash prior — fused without score
    calibration (RRF reads only ranks). Integer micro-unit DIV makes
    the fused scores bit-exact (a float 1/(k+r) sum is
    order-dependent); fusion itself is a union + ONE partial-
    combining sum, no joins, so S signals over 10^12 candidates cost
    S map passes and one exchange. (The DEMO rankings here use global
    row_number windows — fine at fixture scale; production rankings
    arrive as each retriever's top-k readout, which is a TakeOrdered,
    never a global sort.)"""
    from .similarity import rrf_fuse
    docs = _t(spark, sf_dir, "documents")
    w1 = Window.orderBy(F.col("n_chars").desc(), "doc_id")
    w2 = Window.orderBy(
        F.size(F.split(F.col("text"), " ")).desc(), "doc_id")
    w3 = Window.orderBy(F.md5("text"), "doc_id")
    r1 = docs.select(F.col("doc_id").alias("id"),
                     F.row_number().over(w1).alias("rank"))
    r2 = docs.select(F.col("doc_id").alias("id"),
                     F.row_number().over(w2).alias("rank"))
    r3 = docs.select(F.col("doc_id").alias("id"),
                     F.row_number().over(w3).alias("rank"))
    return rrf_fuse([r1, r2, r3], topn=25)



def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled fixed-iteration integer PageRank: one CTE per round
    (recursive CTEs disallow the aggregate in the recursive term in
    some engines; unrolling is portable and the iteration count is a
    fixed parameter anyway). Mirrors graph.py exactly:
    floor divisions on BIGINT micro-units, damping 85%."""
    parts = [r"""
WITH e AS (SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
           FROM customer c
           JOIN orders o ON o.o_custkey = c.c_custkey
           JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           WHERE c.c_nationkey <> s.s_nationkey),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT count(*) AS c FROM nodes),
outd AS (SELECT src, count(*) AS od FROM e GROUP BY src),
r0 AS (SELECT node, CAST(1000000 // c AS BIGINT) AS rank,
              CAST((1000000 * 15) // (100 * c) AS BIGINT) AS base
       FROM nodes, nn)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
r{i} AS (SELECT r.node,
              CAST(r.base + (coalesce(s.s, 0) * 85) // 100 AS BIGINT)
                AS rank, r.base
         FROM r{i - 1} r LEFT JOIN
           (SELECT e.dst AS node,
                   CAST(sum(r2.rank // o.od) AS BIGINT) AS s
            FROM e JOIN r{i - 1} r2 ON r2.node = e.src
                   JOIN outd o ON o.src = e.src
            GROUP BY e.dst) s ON s.node = r.node)""")
    parts.append(f"""
SELECT n.n_name AS nation, r.rank AS rank_micro
FROM r{iters} r JOIN nation n ON n.n_nationkey = r.node""")
    return "".join(parts)



@query("graph_triangles", oracle="""
WITH raw AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey),
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw WHERE src <> dst),
nodes AS (SELECT count(DISTINCT n) AS c FROM
          (SELECT a AS n FROM und UNION ALL SELECT b FROM und)),
tri AS (
  SELECT count(*) AS t
  FROM und e1
  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b)
SELECT CAST(nodes.c AS BIGINT) AS n_nodes,
       (SELECT count(*) FROM und) AS n_edges,
       CAST(tri.t AS BIGINT) AS n_triangles
FROM nodes, tri
""")
def graph_triangles(spark, sf_dir):
    """Triangle counting (:func:`beats_analytics.graph
    .triangle_count`) over the trade graph — the link-farm detector
    next to pagerank (spam farms are near-bipartite, organic
    communities close triangles). Degree-ordered node-iterator: a
    celebrity host with 10^6 inlinks would emit 10^12 wedges under
    the naive self-join; orienting every edge toward its higher
    (degree, id) endpoint bounds each list at O(sqrt(E)) and counts
    each triangle exactly once at its lowest vertex. The oracle
    counts by direct ordered 3-way join — algorithm-independent, so
    it checks the orientation trick's exactness."""
    from .graph import triangle_count
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    edges = (cust.join(orders, orders.o_custkey == cust.c_custkey)
             .join(li, li.l_orderkey == orders.o_orderkey)
             .join(supp, supp.s_suppkey == li.l_suppkey)
             .select(F.col("c_nationkey").alias("src"),
                     F.col("s_nationkey").alias("dst")))
    return triangle_count(edges)



@query("link_pagerank", oracle=_pagerank_oracle(3))
def link_pagerank(spark, sf_dir):
    """Link-graph authority scoring (:func:`beats_analytics
    .graph.pagerank`) — the web-corpus quality prior (host-graph
    centrality), demoed on the customer-nation -> supplier-nation
    trade graph so the edge list derives from real table joins.
    Integer micro-unit ranks make the fixed-point iteration
    bit-exact across engines (float PageRank never is: sum order);
    the oracle is the same recurrence unrolled one CTE per round."""
    from . import pagerank
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    edges = (cust.join(orders, orders.o_custkey == cust.c_custkey)
             .join(li, li.l_orderkey == orders.o_orderkey)
             .join(supp, supp.s_suppkey == li.l_suppkey)
             .select(F.col("c_nationkey").alias("src"),
                     F.col("s_nationkey").alias("dst")))
    pr = pagerank(edges, iters=3)
    return (pr.join(F.broadcast(nation),
                    nation.n_nationkey == pr.node)
              .select(F.col("n_name").alias("nation"), "rank_micro"))



@query("event_transitions", oracle="""
WITH p AS (
  SELECT event_type AS prev_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events),
c AS (SELECT prev_type, next_type, count(*) AS n
      FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2),
t AS (SELECT prev_type, sum(n) AS tot FROM c GROUP BY 1)
SELECT prev_type, next_type, n,
       CAST(n * 1000000 // tot AS BIGINT) AS p_micro
FROM c JOIN t USING (prev_type)
""")
def event_transitions_q(spark, sf_dir):
    """First-order transition matrix
    (:func:`beats_analytics.events.event_transitions`): what
    follows what in each user's event stream — click-path mining /
    "what usually follows an error" / bot detection (bots have
    unnaturally peaked rows). Ordering is (ts, event_id): a bare ts
    order would make lead() nondeterministic under the equal
    timestamps batchy ingest produces constantly. Probabilities in
    integer micro-units so rows hash-match the oracle. One window
    exchange on user_id, one partial-combining pair count."""
    from .events import event_transitions
    ev = _t(spark, sf_dir, "events")
    return event_transitions(ev)



@query("funnel_steps", oracle="""
WITH b AS (SELECT user_id, event_type, epoch_us(ts) AS us
           FROM events),
t0 AS (SELECT user_id,
              min(us) FILTER (WHERE event_type = 'signup') AS u0
       FROM b GROUP BY user_id),
t1 AS (SELECT b.user_id,
              min(us) FILTER (WHERE event_type = 'click'
                              AND us > u0) AS u1
       FROM b JOIN t0 USING (user_id) GROUP BY b.user_id),
t2 AS (SELECT b.user_id,
              min(us) FILTER (WHERE event_type = 'purchase'
                              AND us > u1) AS u2
       FROM b JOIN t1 USING (user_id) GROUP BY b.user_id)
SELECT t0.user_id,
       make_timestamp(u0) AS step1_ts,
       make_timestamp(u1) AS step2_ts,
       make_timestamp(u2) AS step3_ts,
       CAST((u0 IS NOT NULL)::INT + (u1 IS NOT NULL)::INT
            + (u2 IS NOT NULL)::INT AS INT) AS steps_completed
FROM t0 JOIN t1 USING (user_id) JOIN t2 USING (user_id)
""")
def funnel_steps_q(spark, sf_dir):
    """Ordered funnel signup -> click -> purchase (:func:`beats_analytics
    .events.funnel_steps`): each user's first strictly-after
    chain through the steps, NULL from the first break on. K window
    aggregates over one partitionBy(user) exchange — no join, no
    explode, no sort; the oracle states the same strictly-after rule
    as chained FILTER mins."""
    from . import funnel_steps
    ev = _t(spark, sf_dir, "events")
    return funnel_steps(ev, ["signup", "click", "purchase"])



@query("retention_cohorts", oracle="""
WITH f AS (SELECT user_id, min(ts) AS first_ts
           FROM events GROUP BY user_id),
b AS (SELECT e.user_id,
             CAST(date_trunc('week', f.first_ts) AS DATE)
               AS cohort_week,
             CAST(date_trunc('week', e.ts) AS DATE) AS aw
      FROM events e JOIN f USING (user_id))
SELECT CAST(cohort_week AS VARCHAR) AS cohort_week,
       CAST((aw - cohort_week) // 7 AS INT) AS week_offset,
       count(DISTINCT user_id) AS n_active
FROM b GROUP BY cohort_week, week_offset
""")
def retention_cohorts_q(spark, sf_dir):
    """Weekly retention triangle (:func:`beats_analytics.events
    .retention_cohorts`): cohort = Monday week of each user's first
    event; rows are (cohort_week, week_offset, distinct active
    users). Week offsets computed in whole days / 7 on DATE values so
    engines agree exactly (both truncate weeks to Monday). The cohort
    date is emitted as a STRING — the catalog convention for
    date-valued output columns (a Spark DATE reaches pandas as
    object-dtype ``datetime.date`` while DuckDB's is datetime64,
    which the value-hash compare can't unify)."""
    from . import retention_cohorts
    ev = _t(spark, sf_dir, "events")
    return retention_cohorts(ev).withColumn(
        "cohort_week", F.col("cohort_week").cast("string"))



@query("log_templates", oracle=r"""
WITH lines AS (SELECT printf('user %d %s order 0x%x from 10.0.%d.%d',
                             user_id, event_type, event_id,
                             user_id % 256, event_id % 256) AS message
               FROM events),
t AS (SELECT regexp_replace(regexp_replace(regexp_replace(
                regexp_replace(message,
  '[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}',
                  '<uuid>', 'g'),
                '0x[0-9a-fA-F]+', '<hex>', 'g'),
                '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<ip>', 'g'),
                '\d+', '<num>', 'g') AS template,
             message AS raw
      FROM lines)
SELECT template, count(*) AS n_lines, min(raw) AS example
FROM t GROUP BY template
""")
def log_templates_q(spark, sf_dir):
    """Drain-style log template mining (:func:`beats_analytics
    .templates.log_templates`): mask uuid/hex/ip/number tokens with
    typed placeholders, group identical masked lines — one map-side
    regexp_replace chain + one partial-aggregated groupBy, no Python.
    The log corpus is CONSTRUCTED from event columns (the catalog's
    round-trip trick), so the oracle rebuilds the identical lines and
    replays the same mask table with the 'g' flag."""
    from . import log_templates
    ev = _t(spark, sf_dir, "events")
    lines = ev.select(F.format_string(
        "user %d %s order 0x%x from 10.0.%d.%d",
        F.col("user_id"), F.col("event_type"), F.col("event_id"),
        F.col("user_id") % 256, F.col("event_id") % 256)
        .alias("message"))
    return log_templates(lines, text_col="message")



@query("count_anomalies", oracle="""
WITH c AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                  count(*) AS n_events
           FROM events GROUP BY event_type, hour),
w AS (SELECT event_type, hour, n_events,
             count(*) OVER win AS n,
             CAST(sum(CAST(n_events AS HUGEINT)) OVER win
                  AS HUGEINT) AS s,
             CAST(sum(CAST(n_events AS HUGEINT)
                      * CAST(n_events AS HUGEINT)) OVER win
                  AS HUGEINT) AS q
      FROM c
      WINDOW win AS (PARTITION BY event_type ORDER BY hour
                     ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT event_type, hour, n_events, CAST(n AS INT) AS n_prior,
       CASE WHEN n < 6 THEN FALSE ELSE
         (CAST(n_events AS HUGEINT) * n - s)
           * (CAST(n_events AS HUGEINT) * n - s) * (n - 1)
         > 9 * n * (n * q - s * s)
       END AS is_anomaly
FROM w
""")
def count_anomalies_q(spark, sf_dir):
    """Counter spike/drop flags (:func:`beats_analytics.templates
    .count_anomalies`): hourly per-type event counts tested against
    their trailing-24-bucket mean at z=3 — with the z-score evaluated
    as an INTEGER cross-multiplied inequality in decimal(38,0) /
    HUGEINT, so both engines produce bit-identical booleans (float
    stddev differs by estimator and summation order across engines;
    this sidesteps floats entirely)."""
    from . import count_anomalies
    ev = _t(spark, sf_dir, "events")
    counts = (ev.groupBy("event_type",
                         F.date_trunc("hour", F.col("ts"))
                          .alias("hour"))
              .agg(F.count(F.lit(1)).alias("n_events")))
    out = count_anomalies(counts, "event_type", "hour", "n_events",
                          trailing=24, min_points=6, z=3)
    # the library keeps warmup rows NULL (tri-state); the compare
    # harness can't unify None/NaN booleans, so the catalog form
    # reports warmup as not-an-anomaly — n_prior < 6 still marks it
    return out.withColumn("is_anomaly",
                          F.coalesce("is_anomaly", F.lit(False)))



@query("merge_intervals", oracle="""
WITH iv AS (SELECT event_type AS k, epoch_us(ts) AS s,
                   epoch_us(ts) + CAST(round(value * 100) AS BIGINT)
                     * 60000 AS e
            FROM events),
m AS (SELECT k, s, e,
             max(e) OVER (PARTITION BY k ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pm
      FROM iv),
r AS (SELECT k, s, e,
             sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
               OVER (PARTITION BY k ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run
      FROM m)
SELECT k AS event_type, CAST(min(s) AS BIGINT) AS start_us,
       CAST(max(e) AS BIGINT) AS end_us,
       count(*) AS n_merged
FROM r GROUP BY k, run
""")
def merge_intervals_q(spark, sf_dir):
    """Coalesce overlapping event intervals per type
    (:func:`beats_analytics.events.merge_intervals`): each event
    opens a window of ``value`` deciseconds scaled to µs; runs of
    overlapping-or-touching windows merge into one row. Single
    exchange — both window passes and the final rollup share the key
    partitioning."""
    from .events import merge_intervals
    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        F.col("event_type"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("start_us"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         + F.round(F.col("value") * 100).cast("long") * 60000)
        .alias("end_us"))
    return merge_intervals(iv, "event_type", "start_us", "end_us")



@query("mad_outliers", oracle="""
WITH e AS (SELECT event_id, user_id,
                  CAST(round(value * 100) AS BIGINT) AS x
           FROM events),
m AS (SELECT user_id, CAST(2 * median(x) AS BIGINT) AS med2
      FROM e GROUP BY user_id),
q AS (SELECT e.event_id, e.user_id, e.x, m.med2,
             abs(2 * e.x - m.med2) AS qv
      FROM e JOIN m USING (user_id)),
d AS (SELECT user_id, CAST(2 * median(qv) AS BIGINT) AS mad_q2
      FROM q GROUP BY user_id)
SELECT q.event_id, q.user_id, q.x, q.med2, d.mad_q2,
       2 * q.qv * 10000 > 3 * 14826 * d.mad_q2 AS is_outlier
FROM q JOIN d USING (user_id)
""")
def mad_outliers_q(spark, sf_dir):
    """Hampel (median/MAD) outlier flags on the per-user event value
    stream (:func:`beats_analytics.templates.mad_outliers`):
    robust to the masking that inflated means/stddevs cause in the
    plain z-test; the whole test is integer cross-multiplication, so
    flags are engine-exact."""
    from .templates import mad_outliers
    ev = (_t(spark, sf_dir, "events")
          .select("event_id", "user_id",
                  F.round(F.col("value") * 100).cast("long").alias("x")))
    return mad_outliers(ev, "user_id", "x", z=3)



@query("ewma_anomaly", oracle="""
WITH RECURSIVE ev AS (
  SELECT user_id AS k, event_id AS id,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT) AS rn,
         CAST(round(value * 100) AS BIGINT) AS x
  FROM events),
scan AS (
  SELECT k, id, rn, x * 1000 AS s, FALSE AS spike
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.k, e.id, e.rn,
         (2 * e.x * 1000 + 8 * s.s) // 10,
         e.x * 1000 * 10 > 25 * s.s
  FROM scan s JOIN ev e ON e.k = s.k AND e.rn = s.rn + 1),
fin AS (SELECT *, max(rn) OVER (PARTITION BY k) AS mx FROM scan)
SELECT k AS user_id, count(*) AS n,
       CAST(max(CASE WHEN rn = mx THEN s END) AS BIGINT)
         AS ewma_final_milli,
       CAST(count(*) FILTER (WHERE spike) AS BIGINT) AS n_spikes
FROM fin GROUP BY k
""")
def ewma_anomaly(spark, sf_dir):
    """Per-user EWMA smoothing of the event value stream with spike
    flags (:func:`beats_analytics.events.ewma_smooth`): alpha=0.2
    in integer milli-point fixed point, spike = value above 2.5× the
    running smooth. The per-step floor division makes the scan
    genuinely recursive (no closed form), so the oracle is a recursive
    CTE replaying it bit-for-bit — the sequential sibling of the
    windowed z-test in ``count_anomalies``."""
    from .events import ewma_smooth
    ev = _t(spark, sf_dir, "events").withColumn(
        "x", F.round(F.col("value") * 100).cast("long"))
    sm = ewma_smooth(ev, key_col="user_id", ts_col="ts", x_col="x")
    return (sm.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max_by("ewma_milli", F.struct("ts", "event_id"))
                  .alias("ewma_final_milli"),
                 F.sum(F.col("spike").cast("long")).alias("n_spikes")))



@query("holt_forecast", oracle="""
WITH RECURSIVE ev AS (
  SELECT user_id AS k, event_id AS id,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT) AS rn,
         CAST(round(value * 100) AS BIGINT) AS x
  FROM events),
scan AS (
  SELECT k, id, rn, x * 1000 AS l, CAST(0 AS BIGINT) AS b
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.k, e.id, e.rn,
         (2 * e.x * 1000 + 8 * (s.l + s.b)) // 10,
         (1 * ((2 * e.x * 1000 + 8 * (s.l + s.b)) // 10 - s.l)
          + 9 * s.b) // 10
  FROM scan s JOIN ev e ON e.k = s.k AND e.rn = s.rn + 1),
fin AS (SELECT *, max(rn) OVER (PARTITION BY k) AS mx FROM scan)
SELECT k AS user_id, count(*) AS n,
       CAST(max(CASE WHEN rn = mx THEN l END) AS BIGINT)
         AS level_milli,
       CAST(max(CASE WHEN rn = mx THEN b END) AS BIGINT)
         AS trend_milli,
       CAST(max(CASE WHEN rn = mx THEN l + b END) AS BIGINT)
         AS forecast_milli
FROM fin GROUP BY k
""")
def holt_forecast(spark, sf_dir):
    """Per-user Holt level+trend smoothing with the one-step
    capacity forecast (:func:`beats_analytics.events
    .holt_smooth`): alpha=0.2, beta=0.1 in integer milli fixed
    point. Per-step truncation makes the scan genuinely recursive;
    the oracle replays it as a recursive CTE — and DuckDB's ``//``
    truncates toward zero like the kernel's explicit tdiv, so
    negative trends agree bit-for-bit (the EWMA never went
    negative; this one does)."""
    from .events import holt_smooth
    ev = _t(spark, sf_dir, "events").withColumn(
        "x", F.round(F.col("value") * 100).cast("long"))
    sm = holt_smooth(ev, key_col="user_id", ts_col="ts", x_col="x")
    last = F.struct("ts", "event_id")
    return (sm.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max_by("level_milli", last).alias("level_milli"),
                 F.max_by("trend_milli", last).alias("trend_milli"),
                 (F.max_by("level_milli", last)
                  + F.max_by("trend_milli", last))
                 .alias("forecast_milli")))



@query("chunk_stride", oracle=f"""
WITH t AS (SELECT doc_id, {_SH_TOKS} AS toks FROM documents),
c AS (SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= 0 THEN 0
                  WHEN len(toks) <= 64 THEN 1
                  ELSE 1 + (len(toks) - 64 + 48 - 1) // 48 END
               AS n_chunks
      FROM t),
g AS (SELECT doc_id, toks, n,
             unnest(range(n_chunks)) AS i
      FROM c)
SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       CAST(len(toks[(i*48 + 1):(i*48 + 64)]) AS BIGINT) AS n_tokens,
       array_to_string(toks[(i*48 + 1):(i*48 + 64)], ' ') AS chunk_text
FROM g
""")
def chunk_stride(spark, sf_dir):
    """Overlapping token-window chunking (window=64, stride=48) —
    the embedding/RAG prep step
    (:func:`beats_analytics.packing.chunk_tokens`). Pure JVM
    array ops: tokens → integer chunk count → sequence → slice →
    explode; zero Python, zero shuffle."""
    from .packing import chunk_tokens
    docs = _t(spark, sf_dir, "documents")
    return chunk_tokens(docs, window=64, stride=48)



@query("winnow_fingerprints", oracle="""
WITH t AS (SELECT doc_id,
                  regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
           FROM documents),
h AS (SELECT doc_id, length(s) - 5 + 1 AS m, s FROM t),
hh AS (SELECT doc_id, m,
         list_transform(range(1, m + 1),
           i -> CAST('0x' || substr(md5(s[i:i+4]), 1, 15) AS BIGINT)) AS H
       FROM h WHERE m >= 1),
sel AS (SELECT doc_id, H,
          list_distinct(list_transform(range(1, greatest(m - 4 + 1, 1) + 1),
            j -> list_max(list_transform(range(j, least(j + 3, m) + 1),
                 x -> CASE WHEN H[x] = list_min(H[j:least(j + 3, m)])
                           THEN x ELSE -1 END)))) AS ps
        FROM hh)
SELECT doc_id, CAST(u.p AS BIGINT) AS pos, H[u.p] AS fp
FROM sel, (SELECT unnest(ps) AS p) AS u
""")
def winnow_fingerprints_q(spark, sf_dir):
    """MOSS winnowing fingerprints (k=5 char grams, w=4 windows) over
    the documents table
    (:func:`beats_analytics.dedup.winnow_fingerprints`): the
    position-robust local-fingerprint set — any shared substring of
    k+w−1 chars contributes a common (pos, fp) row. One fused Arrow
    kernel, zero shuffle; the oracle replays the sliding-min selection
    with list lambdas."""
    from .dedup import winnow_fingerprints
    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=5, w=4)



@query("winnow_pairs", oracle="""
WITH t AS (SELECT doc_id,
                  regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
           FROM documents),
h AS (SELECT doc_id, length(s) - 5 + 1 AS m, s FROM t),
hh AS (SELECT doc_id, m,
         list_transform(range(1, m + 1),
           i -> CAST('0x' || substr(md5(s[i:i+4]), 1, 15) AS BIGINT)) AS H
       FROM h WHERE m >= 1),
sel AS (SELECT doc_id, H,
          list_distinct(list_transform(range(1, greatest(m - 4 + 1, 1) + 1),
            j -> list_max(list_transform(range(j, least(j + 3, m) + 1),
                 x -> CASE WHEN H[x] = list_min(H[j:least(j + 3, m)])
                           THEN x ELSE -1 END)))) AS ps
        FROM hh),
fpx AS (SELECT DISTINCT doc_id, H[u.p] AS fp
        FROM sel, (SELECT unnest(ps) AS p) AS u),
ok AS (SELECT fp FROM fpx GROUP BY fp HAVING count(*) <= 20)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM fpx a JOIN fpx b USING (fp) JOIN ok USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 10
""")
def winnow_pairs_q(spark, sf_dir):
    """Duplicate-passage pairs: documents sharing >= 10 winnowing
    fingerprints (:func:`beats_analytics.dedup.winnow_pairs`),
    boilerplate fingerprints (> 20 docs) dropped before the
    fingerprint-bucket self-join — text never shuffles."""
    from .dedup import winnow_pairs
    docs = _t(spark, sf_dir, "documents")
    return winnow_pairs(docs, k=5, w=4, min_shared=10, max_fp_freq=20)



@query("global_rank", oracle="""
WITH t AS (SELECT doc_id, length(text) AS n_chars FROM documents),
r AS (SELECT doc_id, n_chars,
             CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                  AS BIGINT) AS rnk,
             count(*) OVER () AS n
      FROM t)
SELECT doc_id, n_chars, rnk,
       CAST((rnk - 1) * 1000000 // greatest(n - 1, 1) AS BIGINT)
         AS pct_micro
FROM r
""")
def global_rank_q(spark, sf_dir):
    """Exact corpus-wide rank + micro-percentile by document length
    (:func:`beats_analytics.layout.global_rank`): the oracle's
    one-partition ``row_number() OVER (ORDER BY ...)`` spelled at
    scale as one range exchange + in-partition numbering + broadcast
    k-row offsets — no single-task sort anywhere in the plan."""
    from .layout import global_rank
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id", F.length("text").alias("n_chars")))
    ranked = global_rank(docs, ["n_chars", "doc_id"])
    tot = docs.agg(F.count(F.lit(1)).alias("__n"))
    return (ranked.crossJoin(F.broadcast(tot))
            .select("doc_id", "n_chars", "rnk",
                    F.expr("(rnk - 1) * 1000000 DIV greatest(__n - 1, 1)")
                     .alias("pct_micro")))



@query("scd2_enrich", oracle="""
WITH dim AS (SELECT user_id, event_id AS version_id,
                    ts AS valid_from,
                    CASE WHEN lead(ts) OVER w IS NULL
                         THEN ts + INTERVAL 3 DAY
                         ELSE least(lead(ts) OVER w,
                                    ts + INTERVAL 3 DAY) END
                      AS valid_to
             FROM events WHERE event_type = 'signup'
             WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
err AS (SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'error')
SELECT e.event_id, e.user_id,
       (SELECT d.version_id FROM dim d
        WHERE d.user_id = e.user_id AND d.valid_from <= e.ts
          AND d.valid_to > e.ts
        ORDER BY d.valid_from DESC LIMIT 1) AS dim_version_id
FROM err e
""")
def scd2_enrich(spark, sf_dir):
    """SCD-type-2 temporal dimension join (:func:`beats_analytics
    .events.scd2_join`): error events pick up the signup "version"
    whose validity interval covers them — versions derived from the
    events table itself (valid_from = signup ts, valid_to = next
    signup capped at +3 days, so expiry gaps exist and exercise the
    withhold path). Linear asof plan (one exchange, zero Join nodes);
    the oracle is the defining interval-containment subquery."""
    from . import scd2_join
    ev = _t(spark, sf_dir, "events")
    wv = Window.partitionBy("user_id").orderBy("ts")
    nxt = F.lead("ts").over(wv)
    cap = F.col("ts") + F.expr("INTERVAL 3 DAYS")
    dim = (ev.filter(F.col("event_type") == "signup")
           .select("user_id",
                   F.col("event_id").alias("version_id"),
                   F.col("ts").alias("valid_from"),
                   F.when(nxt.isNull(), cap)
                    .otherwise(F.least(nxt, cap)).alias("valid_to")))
    err = ev.filter(F.col("event_type") == "error") \
            .select("event_id", "user_id", "ts")
    out = scd2_join(err, dim, on="user_id", left_ts="ts",
                    payload_cols=["version_id"])
    return out.select("event_id", "user_id", "dim_version_id")



@query("stratified_sample", oracle="""
WITH r AS (SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY CAST('0x' || substr(md5(
                        CAST(doc_id AS VARCHAR) || '#strat'), 1, 15)
                      AS BIGINT) ASC, doc_id ASC) AS sample_rank
           FROM documents)
SELECT doc_id, lang, CAST(sample_rank AS INT) AS sample_rank
FROM r WHERE sample_rank <= 20
""")
def stratified_sample_q(spark, sf_dir):
    """Exact-count stratified sampling (:func:`beats_analytics
    .sample.stratified_sample`): exactly min(20, |group|) documents
    per language, ranked by the seeded 60-bit md5 priority of doc_id
    — the balanced-eval-set draw (hash_sample is Bernoulli and only
    converges to the rate; this is exact per stratum). One group
    window; order is a pure function of (key, seed)."""
    from . import stratified_sample
    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(docs.select("doc_id", "lang"),
                            "lang", "doc_id", 20, seed="strat",
                            keep_rank=True)
    return out.select("doc_id", "lang", "sample_rank")



def _zorder_oracle(bits: int = 8) -> str:
    """Unrolled Morton-key SQL over (o_custkey, epoch-day of
    o_orderdate) — the same normalize + bit-interleave fold as
    layout.py (DuckDB `//` floors non-negative longs like
    Spark's floor(a/b))."""
    k = 2
    defs = [("CAST(o_custkey AS BIGINT)", 1, 15000),
            ("CAST(epoch(o_orderdate) // 86400 AS BIGINT)",
             8000, 10000)]
    norms = []
    for (expr, lo, hi) in defs:
        span = hi - lo + 1
        norms.append(
            f"greatest(least((({expr} - {lo}) * {1 << bits}) "
            f"// {span}, {(1 << bits) - 1}), 0)")
    terms = []
    for ci, nexpr in enumerate(norms):
        for b in range(bits):
            terms.append(f"((({nexpr} >> {b}) & 1) << {b * k + ci})")
    return f"""
SELECT o_orderkey, CAST({' | '.join(terms)} AS BIGINT) AS zkey
FROM orders
"""



@query("zorder_layout", oracle=_zorder_oracle(8))
def zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering key (:func:`beats_analytics
    .layout.zorder_key`) over (customer, order-day): the data-layout
    primitive behind multi-column min/max file skipping —
    range-clustering on this key gives every output file a compact
    hyper-rectangle in BOTH dimensions (OPTIMIZE ZORDER BY, as plain
    DataFrame bit arithmetic). Pure closed-form JVM bit ops; the
    oracle unrolls the identical normalize + interleave fold."""
    from . import zorder_key
    orders = _t(spark, sf_dir, "orders")
    day = F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                  / F.lit(86400_000_000)).cast("long")
    zk = zorder_key([F.col("o_custkey"), day],
                    los=[1, 8000], his=[15000, 10000], bits=8)
    return orders.select("o_orderkey", zk.cast("bigint").alias("zkey"))



# =====================================================================
# sketches: KMV distinct / count-min / Bloom membership + weighted
# sampling (sketch.py, sample.py)
# =====================================================================

@query("corpus_overlap", oracle=r"""
WITH toks AS (
  SELECT DISTINCT source,
         unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                i -> array_to_string(t[i:i+1], ' '))) AS g
  FROM (SELECT source,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS t
        FROM documents)),
seeds AS (SELECT unnest(range(0, 16)) AS i),
sig AS (
  SELECT source, i, min(md5(CAST(i AS VARCHAR) || ':' || g)) AS h
  FROM toks CROSS JOIN seeds GROUP BY 1, 2),
sz AS (SELECT source, count(*) AS n FROM toks GROUP BY 1),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*) AS inter
  FROM toks a JOIN toks b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2),
est AS (
  SELECT a.source AS source_a, b.source AS source_b,
         round(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) / 16.0, 6)
           AS j_est
  FROM sig a JOIN sig b ON a.i = b.i AND a.source < b.source
  GROUP BY 1, 2)
SELECT e.source_a, e.source_b,
       round(CAST(coalesce(i.inter, 0) AS DOUBLE)
             / (x.n + y.n - coalesce(i.inter, 0)), 6) AS j_exact,
       e.j_est
FROM est e
LEFT JOIN inter i ON i.source_a = e.source_a
                 AND i.source_b = e.source_b
JOIN sz x ON x.source = e.source_a
JOIN sz y ON y.source = e.source_b
""")
def corpus_overlap_q(spark, sf_dir):
    """Corpus-level overlap estimation: the word-bigram-vocabulary
    Jaccard between every source pair, estimated from 16-component
    MinHash signatures (same ``i:`` seeding as the document-level
    :func:`minhash_signature`) and compared against the exact value.

    The scale point: comparing two 10^12-doc snapshots exactly means
    joining their distinct-token sets (the ``inter`` CTE — quadratic
    in hot tokens); the signature route reduces EACH corpus to 16
    strings via a partial-combining min aggregation (mergeable, so
    per-day signatures roll up by min like HLL registers by max),
    and the pairwise comparison is then O(pairs × 16), data-free.
    Both the estimate AND its error are deterministic functions of
    the data, so the oracle checks them bit-for-bit. The exact side
    is computed here only as the demo comparison."""
    from .dedup import _spread, shingles
    docs = _spread(_t(spark, sf_dir, "documents"))
    # five consumers (signature agg, sizes, both exact-join sides);
    # the barrier keeps the scan+explode+distinct from re-running per
    # consumer (14 -> 10 Exchanges)
    toks = (docs.select("source",
                        F.explode(shingles(F.col("text"), 2)).alias("g"))
            .distinct().localCheckpoint())
    k = 16
    sig = toks.groupBy("source").agg(
        *[F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("g"))))
          .alias(f"h{i}") for i in range(k)])
    sz = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sig.select(F.col("source").alias("source_a"),
                   *[F.col(f"h{i}").alias(f"a{i}") for i in range(k)])
    b = sig.select(F.col("source").alias("source_b"),
                   *[F.col(f"h{i}").alias(f"b{i}") for i in range(k)])
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(k))
    est = (a.join(b, F.col("source_a") < F.col("source_b"))
           .select("source_a", "source_b",
                   F.round(matches / float(k), 6).alias("j_est")))
    ta = toks.select(F.col("source").alias("source_a"), "g")
    tb = toks.select(F.col("source").alias("source_b"), "g")
    inter = (ta.join(tb, "g")
             .filter(F.col("source_a") < F.col("source_b"))
             .groupBy("source_a", "source_b")
             .agg(F.count(F.lit(1)).alias("inter")))
    sa = sz.select(F.col("source").alias("source_a"),
                   F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("source_b"),
                   F.col("n").alias("n_b"))
    return (est.join(inter, ["source_a", "source_b"], "left")
            .join(sa, "source_a").join(sb, "source_b")
            .select("source_a", "source_b",
                    F.round(F.coalesce(F.col("inter"), F.lit(0))
                            / (F.col("n_a") + F.col("n_b")
                               - F.coalesce(F.col("inter"), F.lit(0))),
                            6).alias("j_exact"),
                    "j_est"))



@query("kmv_distinct", oracle="""
WITH h AS (
  SELECT lang,
         CAST(('0x'||substr(md5(text||'#kmv1'),1,15)) AS BIGINT) AS h
  FROM documents),
d AS (SELECT DISTINCT lang, h FROM h),
r AS (SELECT lang, h,
             row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY lang) AS nd
      FROM d)
SELECT lang,
       CASE WHEN nd < 128 THEN nd
            ELSE CAST(floor(127.0 * 1152921504606846976.0 / h) AS BIGINT)
       END AS est_distinct,
       nd < 128 AS is_exact
FROM r
WHERE rn = CASE WHEN nd < 128 THEN nd ELSE 128 END
""")
def kmv_distinct_q(spark, sf_dir):
    """KMV (bottom-k) distinct-count sketch
    (:func:`beats_analytics.sketch.kmv_distinct`): per-language
    estimate of distinct document texts from the 128 smallest 60-bit
    md5 hashes. The heavy pass is a zero-shuffle Arrow partial whose
    output is bounded by partitions×k rows per group; groups that
    never truncated come back exact (``is_exact``). The oracle
    replays the identical hash order in DuckDB — including the
    estimator's error, which is a pure function of the data."""
    from .sketch import kmv_distinct
    docs = _t(spark, sf_dir, "documents")
    return kmv_distinct(docs, "text", k=128, by="lang", seed="kmv1")



@query("countmin_freq", oracle="""
WITH js AS (SELECT unnest([0,1,2,3]) AS j),
cells AS (
  SELECT j,
         CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)||'#cms1#'
                                ||CAST(j AS VARCHAR)),1,15)) AS BIGINT)
           % 64 AS bucket,
         count(*) AS cnt
  FROM events CROSS JOIN js GROUP BY 1, 2),
probes AS (SELECT user_id, count(*) AS true_cnt FROM events GROUP BY 1),
pj AS (
  SELECT p.user_id, p.true_cnt, js.j,
         CAST(('0x'||substr(md5(CAST(p.user_id AS VARCHAR)||'#cms1#'
                                ||CAST(js.j AS VARCHAR)),1,15)) AS BIGINT)
           % 64 AS bucket
  FROM probes p CROSS JOIN js),
e AS (SELECT pj.user_id,
             CAST(min(pj.true_cnt) AS BIGINT) AS true_cnt,
             CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est_cnt
      FROM pj LEFT JOIN cells c USING (j, bucket)
      GROUP BY pj.user_id)
SELECT user_id, true_cnt, est_cnt
FROM e ORDER BY true_cnt DESC, user_id LIMIT 20
""")
def countmin_freq_q(spark, sf_dir):
    """Count-min frequency sketch
    (:func:`beats_analytics.sketch.countmin_build` /
    ``countmin_estimate``): a 4×64 counter grid over event user_ids —
    deliberately narrower than the 150-key population so collisions
    (and therefore the CM overestimate, est >= true always) are
    visible and oracle-checked. The build's exchange delivers at most
    depth·width rows per map task regardless of input size; the
    top-20 readout is a TakeOrdered, not a global sort."""
    from .sketch import countmin_build, countmin_estimate
    ev = _t(spark, sf_dir, "events")
    sk = countmin_build(ev, "user_id", width=64, depth=4, seed="cms1")
    true = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = countmin_estimate(sk, true.select("user_id"), "user_id",
                            width=64, depth=4, seed="cms1")
    return (true.join(est, "user_id")
            .select("user_id", "true_cnt", "est_cnt")
            .orderBy(F.col("true_cnt").desc(), F.col("user_id"))
            .limit(20))



@query("bloom_membership", oracle="""
WITH members AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'purchase' AND value > 400),
pos AS (
  SELECT CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)||'#bl1#'
                                ||CAST(j AS VARCHAR)),1,15)) AS BIGINT)
           % 248 AS p
  FROM members CROSS JOIN (SELECT unnest([0,1,2]) AS j) js),
bloom AS (
  SELECT p // 62 AS word_idx,
         bit_or(1::BIGINT << CAST(p % 62 AS INT)) AS word
  FROM pos GROUP BY 1),
pr AS (
  SELECT e.event_type, e.user_id,
         (SELECT bool_and(coalesce(b.word, 0)
                          & (1::BIGINT << CAST(pp.p % 62 AS INT)) <> 0)
          FROM (SELECT CAST(('0x'||substr(md5(CAST(e.user_id AS VARCHAR)
                                              ||'#bl1#'||CAST(j2 AS VARCHAR)),
                                          1,15)) AS BIGINT) % 248 AS p
                FROM (SELECT unnest([0,1,2]) AS j2) js2) pp
          LEFT JOIN bloom b ON b.word_idx = pp.p // 62) AS flagged,
         EXISTS (SELECT 1 FROM members m
                 WHERE m.user_id = e.user_id) AS is_member
  FROM events e)
SELECT event_type,
       count(*) AS n,
       CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_member
FROM pr GROUP BY event_type
""")
def bloom_membership_q(spark, sf_dir):
    """Bloom-filter membership
    (:func:`beats_analytics.sketch.bloom_build` / ``bloom_probe``):
    big-spender user_ids OR-ed into a deliberately tiny 248-bit filter
    (so false positives occur and are oracle-checked — they are a
    deterministic function of the data), then every event probed via
    3 broadcast hash joins — the probed side never shuffles, which is
    the whole point of a Bloom pre-filter at 10^12 rows (membership
    semi-join without moving the big table; size n_bits for ~1% fpp
    in production, e.g. 2^30 bits = 2 MiB of words for 10^8 keys).
    n_flagged >= n_member, never the reverse (no false negatives)."""
    from .sketch import bloom_build, bloom_probe
    ev = _t(spark, sf_dir, "events")
    members = (ev.filter((F.col("event_type") == "purchase")
                         & (F.col("value") > 400))
               .select("user_id").distinct())
    bl = bloom_build(members, "user_id", n_bits=248, n_hashes=3,
                     seed="bl1")
    probed = bloom_probe(ev, "user_id", bl, n_bits=248, n_hashes=3,
                         seed="bl1")
    exact = members.withColumn("__m", F.lit(1))
    return (probed.join(F.broadcast(exact), "user_id", "left")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("maybe_member").cast("long"))
                  .alias("n_flagged"),
                 F.sum(F.when(F.col("__m").isNotNull(), 1).otherwise(0))
                  .cast("long").alias("n_member")))



@query("hll_distinct", oracle="""
WITH keys AS (
  SELECT event_type,
         CAST(user_id AS VARCHAR) || ':'
           || CAST(event_id % 50 AS VARCHAR) AS skey
  FROM events),
h AS (
  SELECT event_type,
         (CAST(('0x'||substr(md5(skey||'#hll1'),1,15)) AS BIGINT)
          >> 28) AS h32
  FROM keys),
r AS (
  SELECT event_type, h32 >> 26 AS bucket,
         CASE WHEN (h32 & 67108863) = 0 THEN 27
              ELSE 26 - length(bin(h32 & 67108863)) + 1 END AS rho
  FROM h),
regs AS (SELECT event_type, bucket, max(rho) AS reg
         FROM r GROUP BY 1, 2),
a AS (SELECT event_type, CAST(count(*) AS INT) AS nseen,
             sum(CAST(power(2.0, 32 - reg) AS BIGINT)) AS s
      FROM regs GROUP BY 1),
t AS (SELECT event_type,
             count(DISTINCT CAST(user_id AS VARCHAR) || ':'
                            || CAST(event_id % 50 AS VARCHAR))
               AS true_distinct
      FROM events GROUP BY 1)
SELECT t.event_type, t.true_distinct,
       round(0.709 * 64 * 64 * power(2.0, 32)
             / CAST(s + (64 - nseen)
                    * CAST(power(2.0, 32) AS BIGINT) AS DOUBLE), 2)
         AS est_distinct,
       nseen
FROM t JOIN a USING (event_type)
""")
def hll_distinct_q(spark, sf_dir):
    """HyperLogLog distinct-count
    (:func:`beats_analytics.sketch.hll_distinct`): distinct
    user-session keys per event_type through a 64-register HLL
    (p=6, 32-bit hash). The register max is a partial-combining
    aggregation — the exchange carries at most 2^p rows per group per
    map task regardless of input size, vs an exact COUNT(DISTINCT)
    moving every distinct key — and the harmonic-mean denominator is
    accumulated as an exact integer so the ESTIMATE itself (error and
    all, here ~1.04/√64 ≈ 13%) hash-matches the DuckDB oracle.
    Registers merge by max (:func:`hll_merge`), the property that
    makes daily partial sketches roll up without raw data."""
    from .sketch import hll_distinct
    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type",
        F.concat(F.col("user_id").cast("string"), F.lit(":"),
                 (F.col("event_id") % 50).cast("string")).alias("skey"))
    est = hll_distinct(keyed, "skey", p=6, bits=32, by="event_type",
                       seed="hll1")
    true = (keyed.groupBy("event_type")
            .agg(F.count_distinct("skey").alias("true_distinct")))
    return (true.join(est, "event_type")
            .select("event_type", "true_distinct", "est_distinct",
                    "nseen"))



@query("bloom_join_prune", oracle="""
WITH dim AS (
  SELECT DISTINCT user_id, user_id % 3 AS tier
  FROM events WHERE event_type = 'purchase' AND value > 250)
SELECT e.event_type, d.tier,
       count(*) AS n,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_value
FROM events e JOIN dim d USING (user_id)
GROUP BY 1, 2
""")
def bloom_join_prune_q(spark, sf_dir):
    """Bloom-filter semi-join reduction: probe the fact side against
    a Bloom filter of the dim keys and PRUNE before the join, then
    run the exact join on the survivors. The oracle is the plain
    join — the identity this technique rests on (no false negatives,
    and the exact join removes the filter's false positives), so the
    pruned plan must hash-match it row for row.

    Why it matters at 10^12 rows: when the dim side is too big to
    broadcast, the join becomes a shuffle of BOTH sides — but the
    Bloom filter (bits, not keys: a 2^30-bit filter is 128 MiB for
    10^8 keys at ~1% fpp) still broadcasts cheaply, so most
    non-matching fact rows die map-side before the exchange. The
    probe is word-indexed broadcast joins (bloom_probe); the test
    asserts the prune sits below the join's exchange."""
    from .sketch import bloom_build, bloom_probe
    ev = _t(spark, sf_dir, "events")
    dim = (ev.filter((F.col("event_type") == "purchase")
                     & (F.col("value") > 250))
           .select("user_id").distinct()
           .withColumn("tier", F.col("user_id") % 3))
    bl = bloom_build(dim, "user_id", n_bits=2046, n_hashes=3,
                     seed="bjp")
    pruned = (bloom_probe(ev, "user_id", bl, n_bits=2046, n_hashes=3,
                          seed="bjp")
              .filter(F.col("maybe_member")).drop("maybe_member"))
    return (pruned.join(dim, "user_id")
            .groupBy("event_type", "tier")
            .agg(F.count(F.lit(1)).alias("n"),
                 (F.sum(F.round(F.col("value") * 100).cast("long"))
                  .cast("long") / 100.0).alias("total_value")))



@query("hll_windowed", oracle="""
WITH keyed AS (
  SELECT event_type,
         CAST(to_timestamp((epoch(ts)::BIGINT // 21600) * 21600)
              AS TIMESTAMP) AS wstart,
         user_id
  FROM events),
h AS (
  SELECT event_type, wstart,
         (CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)||'#hw1'),
                             1,15)) AS BIGINT) >> 28) AS h32
  FROM keyed),
r AS (
  SELECT event_type, wstart, h32 >> 26 AS bucket,
         CASE WHEN (h32 & 67108863) = 0 THEN 27
              ELSE 26 - length(bin(h32 & 67108863)) + 1 END AS rho
  FROM h),
regs AS (SELECT event_type, wstart, bucket, max(rho) AS reg
         FROM r GROUP BY 1, 2, 3),
a AS (SELECT event_type, wstart, CAST(count(*) AS INT) AS nseen,
             sum(CAST(power(2.0, 32 - reg) AS BIGINT)) AS s
      FROM regs GROUP BY 1, 2),
t AS (SELECT event_type, wstart,
             count(DISTINCT user_id) AS true_distinct
      FROM keyed GROUP BY 1, 2)
SELECT t.event_type, t.wstart, t.true_distinct,
       round(0.709 * 64 * 64 * power(2.0, 32)
             / CAST(s + (64 - nseen)
                    * CAST(power(2.0, 32) AS BIGINT) AS DOUBLE), 2)
         AS est_distinct,
       nseen
FROM t JOIN a USING (event_type, wstart)
""")
def hll_windowed_q(spark, sf_dir):
    """Windowed HLL — "distinct users per 6-hour window per type",
    the production shape of the distinct-count sketch: ``by`` is the
    (key, tumbling window) composite, so register state is 2^p ints
    PER WINDOW and windows roll up by max if later re-bucketed
    (hll_merge). Same exact-integer estimator as ``hll_distinct``,
    so the per-window estimates hash-match the oracle."""
    from .sketch import hll_distinct
    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type",
        F.window("ts", "6 hours")["start"].alias("wstart"),
        "user_id")
    est = hll_distinct(keyed, "user_id", p=6, bits=32,
                       by=["event_type", "wstart"], seed="hw1")
    true = (keyed.groupBy("event_type", "wstart")
            .agg(F.count_distinct("user_id").alias("true_distinct")))
    return (true.join(est, ["event_type", "wstart"])
            .select("event_type", "wstart", "true_distinct",
                    "est_distinct", "nseen"))



@query("latency_histogram", oracle="""
WITH v AS (SELECT event_type,
                  CAST(round(value * 1000) AS BIGINT) AS v
           FROM events),
h AS (SELECT event_type,
             CASE WHEN v = 0 THEN 0 ELSE length(bin(v)) END AS bucket,
             count(*) AS cnt
      FROM v GROUP BY 1, 2),
c AS (SELECT event_type, bucket,
             sum(cnt) OVER (PARTITION BY event_type
                            ORDER BY bucket) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM h),
q AS (SELECT unnest([500000, 900000, 990000]) AS q_micro),
hit AS (SELECT event_type, q_micro, bucket, n
        FROM c, q WHERE cum >= (q_micro * n + 999999) // 1000000)
SELECT event_type, CAST(q_micro AS INT) AS q_micro,
       min(CASE WHEN bucket = 0 THEN 0
                ELSE CAST(power(2.0, bucket) AS BIGINT) - 1 END)
         AS upper_micro,
       CAST(min(n) AS BIGINT) AS n
FROM hit GROUP BY 1, 2
""")
def latency_histogram_q(spark, sf_dir):
    """Power-of-two histogram percentiles
    (:func:`beats_analytics.sketch.hdr_histogram` /
    ``hdr_percentiles``): p50/p90/p99 upper bounds per event_type —
    the DETERMINISTIC alternative to approx_percentile, whose sketch
    is engine- and merge-order-specific and therefore can never be
    oracle-checked. A value's bucket is a pure function of the value
    (length(bin(v)), the HLL-rho trick), so per-day histograms merge
    by plain SUM and two engines agree bit-for-bit; error bounded at
    one binary order. The heavy pass is one bounded agg (≤ ~64 rows
    per group forever); percentiles read the tiny histogram only."""
    from .sketch import hdr_histogram, hdr_percentiles
    ev = _t(spark, sf_dir, "events")
    hist = hdr_histogram(ev, "value", by="event_type",
                         unit_scale=1000)
    return hdr_percentiles(hist, [0.5, 0.9, 0.99], by="event_type")



@query("hll_set_ops", oracle="""
WITH clickers AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) || ':'
         || CAST(event_id % 50 AS VARCHAR) AS k
  FROM events WHERE event_type = 'click'),
buyers AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) || ':'
         || CAST(event_id % 50 AS VARCHAR) AS k
  FROM events WHERE event_type = 'purchase'),
ra AS (
  SELECT h32 >> 26 AS bucket,
         max(CASE WHEN (h32 & 67108863) = 0 THEN 27
                  ELSE 26 - length(bin(h32 & 67108863)) + 1 END)
           AS reg
  FROM (SELECT (CAST(('0x'||substr(md5(k||'#hso'),1,15)) AS BIGINT)
                >> 28) AS h32 FROM clickers)
  GROUP BY 1),
rb AS (
  SELECT h32 >> 26 AS bucket,
         max(CASE WHEN (h32 & 67108863) = 0 THEN 27
                  ELSE 26 - length(bin(h32 & 67108863)) + 1 END)
           AS reg
  FROM (SELECT (CAST(('0x'||substr(md5(k||'#hso'),1,15)) AS BIGINT)
                >> 28) AS h32 FROM buyers)
  GROUP BY 1),
ru AS (SELECT bucket, max(reg) AS reg
       FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
       GROUP BY 1),
est AS (
  SELECT 'a' AS s, round(0.709 * 64 * 64 * power(2.0, 32)
         / CAST(sum(CAST(power(2.0, 32 - reg) AS BIGINT))
                + (64 - count(*)) * CAST(power(2.0, 32) AS BIGINT)
                AS DOUBLE), 2) AS e FROM ra
  UNION ALL
  SELECT 'b', round(0.709 * 64 * 64 * power(2.0, 32)
         / CAST(sum(CAST(power(2.0, 32 - reg) AS BIGINT))
                + (64 - count(*)) * CAST(power(2.0, 32) AS BIGINT)
                AS DOUBLE), 2) FROM rb
  UNION ALL
  SELECT 'u', round(0.709 * 64 * 64 * power(2.0, 32)
         / CAST(sum(CAST(power(2.0, 32 - reg) AS BIGINT))
                + (64 - count(*)) * CAST(power(2.0, 32) AS BIGINT)
                AS DOUBLE), 2) FROM ru),
t AS (
  SELECT (SELECT count(*) FROM clickers) AS true_a,
         (SELECT count(*) FROM buyers) AS true_b,
         (SELECT count(*) FROM clickers c
          WHERE EXISTS (SELECT 1 FROM buyers b
                        WHERE b.k = c.k)) AS true_inter)
SELECT t.true_a, t.true_b, CAST(t.true_inter AS BIGINT) AS true_inter,
       a.e AS est_a, b.e AS est_b, u.e AS est_union,
       round(a.e + b.e - u.e, 2) AS est_inter
FROM t,
     (SELECT e FROM est WHERE s = 'a') a,
     (SELECT e FROM est WHERE s = 'b') b,
     (SELECT e FROM est WHERE s = 'u') u
""")
def hll_set_ops_q(spark, sf_dir):
    """HLL set algebra — "how many of today's clickers also
    purchased, without keeping either raw set": union via register
    max-merge (exact sketch algebra), intersection by
    inclusion-exclusion ``|A|+|B|−|A∪B|`` (the standard HLL
    intersection; error grows with set asymmetry, visible here and
    oracle-checked like every other estimate). At 10^12 events both
    days reduce to 2^p ints each before anything crosses machines."""
    from .sketch import hll_registers, hll_merge, hll_estimate
    ev = _t(spark, sf_dir, "events")
    skey = F.concat(F.col("user_id").cast("string"), F.lit(":"),
                    (F.col("event_id") % 50).cast("string")).alias("k")
    clickers = (ev.filter(F.col("event_type") == "click")
                .select(skey).distinct())
    buyers = (ev.filter(F.col("event_type") == "purchase")
              .select(skey).distinct())
    ra = hll_registers(clickers, "k", p=6, bits=32, seed="hso")
    rb = hll_registers(buyers, "k", p=6, bits=32, seed="hso")
    ea = (hll_estimate(ra, p=6, bits=32)
          .select(F.col("est_distinct").alias("est_a")))
    eb = (hll_estimate(rb, p=6, bits=32)
          .select(F.col("est_distinct").alias("est_b")))
    eu = (hll_estimate(hll_merge(ra, rb), p=6, bits=32)
          .select(F.col("est_distinct").alias("est_union")))
    true = (clickers.withColumn("__a", F.lit(1))
            .join(buyers.withColumn("__b", F.lit(1)), "k", "full")
            .agg(F.sum("__a").alias("true_a"),
                 F.sum("__b").alias("true_b"),
                 F.sum(F.when(F.col("__a").isNotNull()
                              & F.col("__b").isNotNull(), 1))
                 .cast("long").alias("true_inter")))
    return (true.crossJoin(ea).crossJoin(eb).crossJoin(eu)
            .select("true_a", "true_b", "true_inter",
                    "est_a", "est_b", "est_union",
                    F.round(F.col("est_a") + F.col("est_b")
                            - F.col("est_union"), 2)
                    .alias("est_inter")))



@query("priority_sample", oracle="""
WITH s AS (
  SELECT lang, doc_id, n_chars,
         CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1000000) AS BIGINT)
         + CAST(round(-ln(-ln(
             (CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)
                                     ||'#ps1'),1,15)) AS BIGINT)
              % 1099511627776 + 0.5) / 1099511627776.0))
             * 1000000) AS BIGINT) AS score
  FROM documents),
r AS (SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY score DESC, doc_id) AS rn
      FROM s)
SELECT lang, doc_id, n_chars FROM r WHERE rn <= 5
""")
def priority_sample_q(spark, sf_dir):
    """Weighted sampling without replacement
    (:func:`beats_analytics.sample.priority_sample`):
    Efraimidis–Spirakis A-ES keys ``u^(1/w)`` with the RNG replaced by
    the portable 60-bit md5 priority — 5 documents per language drawn
    proportional to length (``n_chars``), reproducible across runs,
    engines and partitionings. Ranked via the order-isomorphic
    Gumbel-max key ``ln w − ln(−ln u)`` in integer micro-nats (the
    dsir_resample discipline — immune to the rounding collapse a
    ``round(ln(u)/w, 6)`` spelling hits at large weights), doc_id
    tie-break. One exchange (the per-language window); the global
    form is a TakeOrdered."""
    from .sample import priority_sample
    docs = _t(spark, sf_dir, "documents")
    out = priority_sample(docs, "doc_id", "n_chars", 5,
                          by="lang", seed="ps1")
    return out.select("lang", "doc_id", "n_chars")



@query("gopher_quality", oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_SH_TOKS} AS toks,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS lns
  FROM documents),
s AS (
  SELECT doc_id,
         len(toks) AS word_count,
         round(CAST(list_sum(list_transform(toks, x -> length(x)))
                    AS DOUBLE) / greatest(len(toks), 1), 6)
           AS mean_word_len,
         round(((length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '...', ''))) / 3.0
                + (length(text) - length(replace(text, '…', ''))))
               / greatest(len(toks), 1), 6) AS symbol_ratio,
         round(CAST(len(list_filter(lns,
                 x -> regexp_matches(ltrim(x), '^[-*•]'))) AS DOUBLE)
               / greatest(len(lns), 1), 6) AS bullet_frac,
         round(CAST(len(list_filter(lns,
                 x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$')))
                 AS DOUBLE)
               / greatest(len(lns), 1), 6) AS ellipsis_frac,
         round(CAST(len(list_filter(toks,
                 x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
               / greatest(len(toks), 1), 6) AS alpha_word_frac,
         CAST(len(list_intersect(list_distinct(toks),
              ['the','be','to','of','and','that','have','with']))
           AS BIGINT) AS stop_hits
  FROM t)
SELECT doc_id, word_count, mean_word_len, symbol_ratio, bullet_frac,
       ellipsis_frac, alpha_word_frac, stop_hits,
       (word_count BETWEEN 10 AND 100000)
         AND (mean_word_len BETWEEN 3 AND 10)
         AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
         AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
         AND stop_hits >= 2 AS gopher_keep
FROM s
""")
def gopher_quality_q(spark, sf_dir):
    """The Gopher quality rule set (Rae et al. 2021, Appendix A1.1)
    via :func:`beats_analytics.textstats.gopher_rules`: the
    published word-count / mean-word-length / symbol-ratio / bullet /
    ellipsis / alpha-word / required-stop-word thresholds as one pure
    codegen projection — the standard web-corpus pre-filter, dropped
    at scan site before any shuffle (min_words relaxed to 10 for the
    synthetic docs' length range). The oracle recomputes every ratio
    and the composite verdict."""
    from .textstats import gopher_rules
    docs = _t(spark, sf_dir, "documents")
    g = gopher_rules(F.col("text"), min_words=10)
    return docs.select(
        "doc_id",
        *[g[k].alias(k) for k in
          ("word_count", "mean_word_len", "symbol_ratio", "bullet_frac",
           "ellipsis_frac", "alpha_word_frac", "stop_hits",
           "gopher_keep")])



@query("robots_filter", oracle="""
SELECT doc_id,
       'https://' || source || '.example.com/doc/'
         || CAST(doc_id AS VARCHAR) AS url,
       CASE
         WHEN source = 'src0' THEN TRUE           -- no robots row
         WHEN source = 'src3' THEN                -- star-only group
           NOT (CAST(doc_id AS VARCHAR) LIKE '3%')
         ELSE                                     -- trainbot group:
           (CAST(doc_id AS VARCHAR) NOT LIKE '%7%')   -- disallow /doc/*7
           OR (CAST(doc_id AS VARCHAR) LIKE '%77%')   -- allow /doc/*77
       END AS robots_allowed
FROM documents
""")
def robots_filter_q(spark, sf_dir):
    """RFC 9309 robots.txt crawl-compliance filtering
    (:mod:`beats_analytics.robots`): per-host robots bodies parsed
    by one Arrow kernel into pre-compiled rule arrays, broadcast, and
    applied to the URL table map-side — group selection (exact product
    token over ``*``, exercised: trainbot hosts carry a ``Disallow: /``
    star group that must NOT apply), longest-match precedence with
    allow-on-tie (``Allow: /doc/*77`` beats ``Disallow: /doc/*7``),
    ``$``-less prefix semantics, hosts without robots default-allowed.
    1 BroadcastHashJoin, 0 shuffles of the URL side (plan-asserted in
    test_robots); the oracle re-derives every verdict from the rule
    construction."""
    from .robots import parse_robots, robots_filter
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/doc/"),
                   F.col("doc_id").cast("string"))
    body = F.when(
        F.col("source") == "src3",
        F.lit("User-agent: *\nDisallow: /doc/3*\n")
    ).otherwise(F.lit(
        "# corpus crawl policy\n"
        "User-agent: trainbot\n"
        "Disallow: /doc/*7\n"
        "Allow: /doc/*77\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /\n"))
    hosts = (docs.select("source").distinct()
             .filter(F.col("source") != "src0"))
    rob = hosts.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        body.alias("robots_txt"))
    urls = docs.select("doc_id", url.alias("url"))
    out = robots_filter(urls, parse_robots(rob), user_agent="TrainBot")
    return out.select("doc_id", "url", "robots_allowed")



@query("html_links", oracle="""
SELECT doc_id, 0 AS pos,
       'https://src' || CAST((doc_id + 1) % 20 AS VARCHAR)
         || '.example.com/doc/' || CAST(doc_id + 1 AS VARCHAR) AS href,
       'next doc ' || CAST(doc_id + 1 AS VARCHAR) AS anchor,
       'src' || CAST((doc_id + 1) % 20 AS VARCHAR)
         || '.example.com' AS host
FROM documents
UNION ALL
SELECT doc_id, 1, '/local/' || CAST(doc_id AS VARCHAR) || '?ref=1',
       'Local page', source || '.example.com'
FROM documents
UNION ALL
SELECT doc_id, 2, '//cdn.example.net/x' || CAST(doc_id AS VARCHAR),
       '', 'cdn.example.net'
FROM documents WHERE doc_id % 3 = 0
""")
def html_links_q(spark, sf_dir):
    """Outlink + anchor-text extraction
    (:func:`beats_analytics.htmltext.extract_links`): pages
    synthesized with absolute, relative (resolved to the page's own
    host), and protocol-relative links — uppercase ``<A HREF`` and
    nested-markup anchors included — extracted by one codegen
    regexp pass, zero shuffle, zero Python. This is the edge-building
    half of the web-graph story (``link_pagerank`` consumes host
    edges; anchor text is the classic target-relevance signal); the
    oracle re-derives every (href, anchor, host) from the
    construction."""
    from .htmltext import extract_links
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    nxt = ((did + 1) % 20).cast("string")
    html = F.concat(
        F.lit("<html><body><p>"), F.substring("text", 1, 40),
        F.lit("</p><a class=\"n\" href=\"https://src"), nxt,
        F.lit(".example.com/doc/"), (did + 1).cast("string"),
        F.lit("\">next <b>doc</b> "), (did + 1).cast("string"),
        F.lit("</a><A HREF=\"/local/"), did.cast("string"),
        F.lit("?ref=1\">  Local\n page </A>"),
        F.when(did % 3 == 0,
               F.concat(F.lit("<a href=\"//cdn.example.net/x"),
                        did.cast("string"), F.lit("\"></a>")))
         .otherwise(F.lit("")),
        F.lit("</body></html>"))
    own = F.concat(F.col("source"), F.lit(".example.com"))
    links = docs.select(
        "doc_id",
        F.posexplode(extract_links(html, base_host=own))
         .alias("pos", "__l"))
    return links.select(
        "doc_id", F.col("pos").cast("int").alias("pos"),
        F.col("__l")["href"].alias("href"),
        F.col("__l")["anchor"].alias("anchor"),
        F.col("__l")["host"].alias("host"))



@query("anchor_texts", oracle="""
WITH links AS (
  SELECT 'src' || CAST((doc_id + 1) % 20 AS VARCHAR)
           || '.example.com' AS host,
         'next doc ' || CAST(doc_id + 1 AS VARCHAR) AS anchor
  FROM documents
  UNION ALL
  SELECT source || '.example.com', 'Local page' FROM documents),
per AS (SELECT host, anchor, count(*) AS cnt FROM links GROUP BY 1, 2),
top AS (SELECT host, anchor AS top_anchor, cnt AS top_n,
               row_number() OVER (PARTITION BY host
                                  ORDER BY cnt DESC, anchor) AS rn
        FROM per)
SELECT p.host, CAST(sum(p.cnt) AS BIGINT) AS n_links,
       count(*) AS n_unique_anchors, t.top_anchor, t.top_n
FROM per p JOIN top t ON t.host = p.host AND t.rn = 1
GROUP BY p.host, t.top_anchor, t.top_n
""")
def anchor_texts_q(spark, sf_dir):
    """Anchor-text aggregation per TARGET host — the inbound-anchor
    corpus that ranks/describes a page by what other pages call it
    (the other half of the web-graph story started by ``html_links``).
    Same page construction, links extracted by the one codegen regexp
    pass, empty anchors dropped, then the aggregation the operator
    exists for: per-(host, anchor) counts first, host totals second —
    the two-level shape that absorbs hot-host skew (a host with 10^9
    inlinks never funnels raw rows into one reducer; the first agg
    combines map-side), with the modal anchor chosen by a
    deterministic (count desc, anchor) tie-break."""
    from .htmltext import extract_links
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    nxt = ((did + 1) % 20).cast("string")
    html = F.concat(
        F.lit("<html><body><a href=\"https://src"), nxt,
        F.lit(".example.com/doc/"), (did + 1).cast("string"),
        F.lit("\">next <b>doc</b> "), (did + 1).cast("string"),
        F.lit("</a><A HREF=\"/local/"), did.cast("string"),
        F.lit("?ref=1\">  Local\n page </A>"),
        F.when(did % 3 == 0,
               F.concat(F.lit("<a href=\"//cdn.example.net/x"),
                        did.cast("string"), F.lit("\"></a>")))
         .otherwise(F.lit("")),
        F.lit("</body></html>"))
    own = F.concat(F.col("source"), F.lit(".example.com"))
    links = (docs.select(F.explode(extract_links(html, base_host=own))
                         .alias("l"))
             .select(F.col("l")["host"].alias("host"),
                     F.col("l")["anchor"].alias("anchor"))
             .filter(F.col("anchor") != ""))
    per = links.groupBy("host", "anchor").agg(
        F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("host").orderBy(F.desc("cnt"),
                                            F.asc("anchor"))
    top = (per.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1)
           .select("host", F.col("anchor").alias("top_anchor"),
                   F.col("cnt").alias("top_n")))
    tot = per.groupBy("host").agg(
        F.sum("cnt").alias("n_links"),
        F.count(F.lit(1)).alias("n_unique_anchors"))
    return (tot.join(top, "host")
            .select("host", "n_links", "n_unique_anchors",
                    "top_anchor", "top_n"))



@query("shard_balance", oracle="""
WITH b AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS nb
           FROM documents),
p AS (SELECT doc_id, nb,
             coalesce(sum(nb) OVER (ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS pre
      FROM b)
SELECT CAST(pre // 4000 AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nb) AS BIGINT) AS bytes_total,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM p GROUP BY 1
""")
def shard_balance_q(spark, sf_dir):
    """Byte-balanced output sharding
    (:func:`beats_analytics.layout.byte_balanced_shards`): shard
    = exclusive byte prefix-sum // 4000 over doc_id order — the
    small-files/giant-files fix a naive repartition(n) leaves at
    100 TB (hash placement balances ROW counts, not BYTES). The
    prefix sum is the :func:`global_rank` machinery (ONE range
    exchange + broadcast per-partition offsets — no single-task
    sort); contiguous doc_id ranges per shard keep the layout
    zone-map-prunable. The oracle is the partitionless window this
    spelling replaces."""
    from . import byte_balanced_shards
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("bigint").alias("nb"))
    sh = byte_balanced_shards(docs, ["doc_id"], "nb", 4000)
    return (sh.groupBy("shard")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("nb").cast("bigint").alias("bytes_total"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))



@query("dns_tunnel", oracle=r"""
WITH q AS (SELECT doc_id,
                  CASE WHEN doc_id % 5 = 0
                       THEN md5(text) || '.t.example.com'
                       ELSE 'www.' || source || '.example.com'
                  END AS query_name
           FROM documents),
l AS (SELECT doc_id, query_name,
             string_split(query_name, '.')[1] AS label
      FROM q),
n AS (SELECT doc_id, CAST(length(label) AS BIGINT) AS n FROM l),
h AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
      FROM (SELECT doc_id, unnest(string_split(label, '')) AS c
            FROM l)
      GROUP BY doc_id, c),
e AS (SELECT h.doc_id,
             CAST(-sum(h.k * CAST(round(ln(h.k * 1.0 / n.n) * 1000000)
                                  AS BIGINT)) AS BIGINT) AS ent
      FROM h JOIN n USING (doc_id) GROUP BY h.doc_id)
SELECT l.doc_id, l.query_name, n.n AS label_len,
       CAST(e.ent // n.n AS BIGINT) AS ent_per_cp_micro,
       (n.n >= 24 AND (e.ent // n.n) >= 2000000) AS is_tunnel
FROM l JOIN n USING (doc_id) JOIN e USING (doc_id)
""")
def dns_tunnel_q(spark, sf_dir):
    """DNS-tunneling detection
    (:func:`beats_analytics.textstats.dns_tunnel_flags`): query
    names synthesized so every 5th document exfiltrates an md5 blob
    as its first label; the detector flags labels that are both long
    (≥24 cp) and high-entropy (mean ≥2.0e6 micro-nats; corpus md5
    labels measure ≥2.06e6, long natural-word labels ~1.8e6), the packetbeat-DNS downstream
    detection. Entropy comes from the integer micro-nat kernel, so
    the FLAG ITSELF is oracle-exact, not just the raw stats. One
    codegen projection + one Arrow projection, zero shuffle."""
    from . import dns_tunnel_flags
    docs = _t(spark, sf_dir, "documents")
    qname = (F.when(F.col("doc_id") % 5 == 0,
                    F.concat(F.md5(F.encode(F.col("text"), "UTF-8")),
                             F.lit(".t.example.com")))
             .otherwise(F.concat(F.lit("www."), F.col("source"),
                                 F.lit(".example.com"))))
    qs = docs.select("doc_id", qname.alias("query_name"))
    return dns_tunnel_flags(qs, "query_name")



@query("sitemap_urls", oracle="""
WITH d AS (
  SELECT doc_id, source,
         'https://' || source || '.example.com' AS h
  FROM documents)
SELECT doc_id, 0 AS pos,
       h || '/doc/' || CAST(doc_id AS VARCHAR) AS loc,
       '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
         AS lastmod,
       CASE WHEN doc_id % 5 = 0 THEN 'daily' END AS changefreq,
       CASE WHEN doc_id % 2 = 0 THEN (doc_id % 10) / 10.0
            ELSE 0.5 END AS priority
FROM d
UNION ALL
SELECT doc_id, 1, h || '/alt/' || CAST(doc_id AS VARCHAR),
       NULL, NULL, 0.5
FROM d
""")
def sitemap_urls_q(spark, sf_dir):
    """sitemaps.org ``<urlset>`` parsing
    (:func:`beats_analytics.robots.parse_sitemap` — robots.txt's
    companion crawl metadata): per-page sitemap blobs with optional
    ``lastmod``/``changefreq``/``priority`` tags, whitespace-sloppy
    markup, and an entry WITHOUT ``<loc>`` that must be dropped per
    the protocol. One codegen regexp pass, zero shuffle/Python; the
    oracle re-derives every field (priority defaults to 0.5 when
    absent) from the construction."""
    from .robots import parse_sitemap
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    h = F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com"))
    pr = ((did % 10) / 10.0).cast("string")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.lit("<url ><loc> "), h, F.lit("/doc/"), did.cast("string"),
        F.lit(" </loc><lastmod>2024-01-"),
        F.lpad((did % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod>"),
        F.when(did % 5 == 0,
               F.lit("<changefreq>daily</changefreq>"))
         .otherwise(F.lit("")),
        F.when(did % 2 == 0,
               F.concat(F.lit("<priority>"), pr, F.lit("</priority>")))
         .otherwise(F.lit("")),
        F.lit("</url>"),
        F.lit("<url><loc>"), h, F.lit("/alt/"), did.cast("string"),
        F.lit("</loc></url>"),
        F.lit("<url><lastmod>2024-02-01</lastmod></url>"),  # no loc
        F.lit("</urlset>"))
    src = docs.select("doc_id", xml.alias("xml"))
    out = src.select(
        "doc_id",
        F.posexplode(parse_sitemap(F.col("xml"))).alias("pos", "__u"))
    return out.select(
        "doc_id", F.col("pos").cast("int").alias("pos"),
        F.col("__u")["loc"].alias("loc"),
        F.col("__u")["lastmod"].alias("lastmod"),
        F.col("__u")["changefreq"].alias("changefreq"),
        F.col("__u")["priority"].alias("priority"))



@query("crawl_frontier", oracle="""
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
links AS (
  SELECT 'src' || CAST((doc_id + 1) % 20 AS VARCHAR) AS src_name,
         'https://src' || CAST((doc_id + 1) % 20 AS VARCHAR)
           || '.example.com/doc/' || CAST(doc_id + 1 AS VARCHAR) AS url,
         CAST(doc_id + 1 AS VARCHAR) AS tail
  FROM documents
  UNION ALL
  SELECT 'src' || CAST(doc_id % 20 AS VARCHAR),
         'https://src' || CAST(doc_id % 20 AS VARCHAR)
           || '.example.com/new/' || CAST(doc_id AS VARCHAR),
         NULL
  FROM documents),
seen AS (
  SELECT 'https://' || source || '.example.com/doc/'
           || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
js AS (SELECT unnest([0, 1, 2]) AS j),
pos AS (
  SELECT CAST(('0x'||substr(md5(url || '#cf1#' || CAST(j AS VARCHAR)),
                            1, 15)) AS BIGINT) % 31744 AS p
  FROM seen CROSS JOIN js),
bloom AS (
  SELECT p // 62 AS word_idx,
         bit_or(1::BIGINT << CAST(p % 62 AS INT)) AS word
  FROM pos GROUP BY 1),
probed AS (
  SELECT l.*,
         (SELECT bool_and(coalesce(b.word, 0)
                  & (1::BIGINT << CAST(pp.p % 62 AS INT)) <> 0)
          FROM (SELECT CAST(('0x'||substr(md5(l.url || '#cf1#'
                        || CAST(j2 AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 31744 AS p
                FROM (SELECT unnest([0, 1, 2]) AS j2) js2) pp
          LEFT JOIN bloom b ON b.word_idx = pp.p // 62) AS maybe_seen
  FROM links l),
new_links AS (SELECT * FROM probed WHERE NOT maybe_seen),
allowed AS (
  SELECT src_name || '.example.com' AS host, url
  FROM new_links
  WHERE CASE
    WHEN src_name = 'src0' THEN TRUE            -- no robots
    WHEN src_name = 'src3' THEN                 -- star: Disallow /doc/3*
      tail IS NULL OR NOT (tail LIKE '3%')
    ELSE                                        -- trainbot group
      tail IS NULL
      OR (tail NOT LIKE '%7%') OR (tail LIKE '%77%')
    END),
ranked AS (
  SELECT host, url,
         row_number() OVER (PARTITION BY host ORDER BY
           CAST(('0x'||substr(md5(url || '#cap'), 1, 15)) AS BIGINT),
           url) AS rn
  FROM allowed)
SELECT host, url FROM ranked WHERE rn <= 5
""")
def crawl_frontier_q(spark, sf_dir):
    """The full crawl-frontier loop as one composition of this round's
    operators: outlinks (half point at existing pages, half at new
    paths) → Bloom seen-set anti-membership (definitely-new only — no
    false negatives means nothing already crawled slips through; the
    filter's deterministic false positives cost a few new URLs and
    are replayed exactly by the oracle) → RFC 9309 robots gate (same
    trainbot/star/no-robots construction as ``robots_filter``) →
    per-host politeness cap (md5-priority ``cap_per_key``, 5 per
    host). Plan: the URL side never shuffles until the final per-host
    window — bloom probe is 3 BHJs, robots is 1 BHJ, both map-side."""
    from .robots import parse_robots, robots_filter
    from .sample import cap_per_key
    from .sketch import bloom_build, bloom_probe
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    link_a = F.concat(
        F.lit("https://src"), ((did + 1) % 20).cast("string"),
        F.lit(".example.com/doc/"), (did + 1).cast("string"))
    link_b = F.concat(
        F.lit("https://src"), (did % 20).cast("string"),
        F.lit(".example.com/new/"), did.cast("string"))
    links = docs.select(
        F.explode(F.array(link_a, link_b)).alias("url"))
    seen = docs.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/doc/"),
                 did.cast("string")).alias("url"))
    nb, nh = 62 * 512, 3
    bl = bloom_build(seen, "url", n_bits=nb, n_hashes=nh, seed="cf1")
    new = (bloom_probe(links, "url", bl, n_bits=nb, n_hashes=nh,
                       seed="cf1", out_col="maybe_seen")
           .filter(~F.col("maybe_seen")).drop("maybe_seen"))
    # same robots construction as robots_filter_q
    body = F.when(
        F.col("source") == "src3",
        F.lit("User-agent: *\nDisallow: /doc/3*\n")
    ).otherwise(F.lit(
        "User-agent: trainbot\nDisallow: /doc/*7\nAllow: /doc/*77\n"
        "\nUser-agent: *\nDisallow: /\n"))
    rob = parse_robots(
        docs.select("source").distinct()
            .filter(F.col("source") != "src0")
            .select(F.concat(F.col("source"),
                             F.lit(".example.com")).alias("host"),
                    body.alias("robots_txt")))
    new = new.withColumn(
        "host", F.regexp_extract(F.col("url"), r"^https://([^/]*)", 1))
    allowed = (robots_filter(new, rob, user_agent="TrainBot",
                             host_col="host")
               .filter(F.col("robots_allowed")))
    from .sketch import h60
    pri = h60(F.col("url"), "cap")
    out = cap_per_key(allowed, "host", 5,
                      order_by=[pri.asc(), F.col("url").asc()])
    return out.select("host", "url")



@query("merge_upsert", oracle="""
SELECT doc_id, text || ' v2' AS text, 'updated' AS change
FROM documents WHERE doc_id % 4 = 0
UNION ALL
SELECT doc_id, text, 'unchanged' FROM documents WHERE doc_id % 4 = 1
UNION ALL
SELECT doc_id + 100000, text, 'inserted'
FROM documents WHERE doc_id % 4 = 2
UNION ALL
SELECT doc_id, text, 'carried'
FROM documents WHERE doc_id % 4 IN (2, 3)
""")
def merge_upsert_q(spark, sf_dir):
    """SCD1 snapshot merge (:func:`beats_analytics.merge
    .merge_upsert` — the Iceberg MERGE INTO shape): a re-ingest delta
    with modified, byte-identical, and brand-new rows folds into the
    current corpus with per-row change classification. The wide
    payloads never ride the classification exchange — both sides
    reduce to (key, sha256 digest) 40-byte rows for the change join
    (the dedup_exact lesson applied to CDC); re-crawled-but-unchanged
    pages are detected WITHOUT comparing payloads row-wise."""
    from .merge import merge_upsert
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    upd = (docs.filter(did % 4 == 0)
           .withColumn("text", F.concat(F.col("text"), F.lit(" v2"))))
    same = docs.filter(did % 4 == 1)
    ins = (docs.filter(did % 4 == 2)
           .withColumn("doc_id", did + 100000))
    delta = upd.unionByName(same).unionByName(ins)
    return merge_upsert(docs, delta, ["doc_id"])



@query("warc_ingest", oracle=f"""
WITH x AS (
  SELECT doc_id,
         'https://' || source || '.example.com/doc/'
           || CAST(doc_id AS VARCHAR) AS target_uri,
         {{STRIP}} AS text
  FROM documents),
t AS (
  SELECT doc_id, target_uri, text,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     y -> y <> '') AS toks
  FROM x)
SELECT doc_id, target_uri, text,
       CAST(len(toks) AS BIGINT) AS word_count,
       len(toks) BETWEEN 10 AND 100000
         AND len(list_intersect(list_distinct(toks),
             ['the','be','to','of','and','that','have','with'])) >= 2
         AS ingest_keep
FROM t
""".replace("{STRIP}", _html_oracle_expr()))
def warc_ingest_q(spark, sf_dir):
    """The archive-to-corpus ingest path under ONE oracle: pages
    wrapped as WARC ``response`` records (byte-counted Content-Length,
    HTTP envelope) → :func:`~beats_spark.functions.warc.parse_warc` →
    HTTP body → the shared HTML strip chain → Gopher word-count +
    required-stop-word gate. The oracle goes straight from the
    construction through ``html_strip_sql`` — legitimate because
    ``warc_extract`` separately proves extraction inverts archiving
    byte-for-byte, so the two oracles compose. Plan: one Arrow kernel
    (the WARC walk), everything after it whole-stage codegen, zero
    shuffle."""
    from .textstats import gopher_rules
    from .htmltext import html_to_text
    from beats_spark.functions.warc import parse_warc
    docs = _t(spark, sf_dir, "documents")
    istr = F.col("doc_id").cast("string")
    first20 = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 20),
                           " ")
    built = F.concat(
        F.lit(_HTML_PRE), F.col("source"), F.lit(" page "), istr,
        F.lit("!</h1><p>"), first20,
        F.lit(" &amp; more.</p><div>id &#39;"),
        istr, F.lit("&#39; &lt;ok&gt;</div></body></html>"))
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
        built)
    uri = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/doc/"), istr)
    blob = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        uri,
        F.lit("\r\nContent-Length: "),
        F.octet_length(F.encode(http, "utf-8")).cast("string"),
        F.lit("\r\n\r\n"), http, F.lit("\r\n\r\n"))
    src = docs.select("doc_id", blob.alias("warc"))
    rec = parse_warc(src, "warc", keep_source=True)
    page = rec.select("doc_id", "target_uri",
                      html_to_text(F.col("body")).alias("text"))
    g = gopher_rules(F.col("text"), min_words=10)
    return page.select(
        "doc_id", "target_uri", "text",
        g["word_count"].alias("word_count"),
        (g["words_ok"] & g["stop_ok"]).alias("ingest_keep"))



# =====================================================================
# round 4 batch: reverse search (percolator), BM25 ranking
# =====================================================================

@query("percolate_match", oracle="""
WITH stored(query_id, lang, terms) AS (VALUES
  ('q_scan_merge', CAST(NULL AS VARCHAR),
   ['scan', 'merge', 'join']),
  ('q_vector_es',  'es', ['vector', 'query']),
  ('q_busy',       CAST(NULL AS VARCHAR),
   ['fast', 'slow', 'the', 'a']),
  ('q_zh_wide',    'zh', ['customer', 'window', 'batch', 'hash']),
  ('q_nomatch',    'de', ['nonexistentterm'])),
qx AS (SELECT query_id, lang,
              len(list_distinct(terms)) AS n_terms,
              unnest(list_distinct(terms)) AS term
       FROM stored),
dt AS (SELECT doc_id, lang AS dlang,
              unnest(list_distinct(list_filter(
                string_split_regex(lower(text), '\\s+'),
                x -> x <> ''))) AS term
       FROM documents),
hits AS (SELECT qx.query_id, dt.doc_id, qx.n_terms
         FROM dt JOIN qx USING (term)
         WHERE qx.lang IS NULL OR qx.lang = dt.dlang),
m AS (SELECT query_id, doc_id
      FROM hits GROUP BY query_id, doc_id, n_terms
      HAVING count(*) = n_terms)
SELECT s.query_id, CAST(count(m.doc_id) AS BIGINT) AS n_docs,
       CAST(min(m.doc_id) AS BIGINT) AS first_doc,
       CAST(max(m.doc_id) AS BIGINT) AS last_doc
FROM stored s LEFT JOIN m USING (query_id)
GROUP BY s.query_id
""")
def percolate_match(spark, sf_dir):
    """Reverse search — the Elasticsearch percolator beats events are
    routed into (:func:`beats_analytics.terms.percolate`): a small
    stored-query table (alert rules: AND-of-terms, optional lang
    gate) is matched against every document. Stored queries broadcast
    exploded-by-term; the corpus side ships only (doc_id, query_id)
    pairs through the one exchange — text never shuffles."""
    from .terms import percolate
    from pyspark.sql.types import (ArrayType, StringType, StructField,
                                   StructType)
    schema = StructType([
        StructField("query_id", StringType()),
        StructField("lang", StringType()),
        StructField("terms", ArrayType(StringType()))])
    stored = spark.createDataFrame([
        ("q_scan_merge", None, ["scan", "merge", "join"]),
        ("q_vector_es", "es", ["vector", "query"]),
        ("q_busy", None, ["fast", "slow", "the", "a"]),
        ("q_zh_wide", "zh", ["customer", "window", "batch", "hash"]),
        ("q_nomatch", "de", ["nonexistentterm"]),
    ], schema)
    docs = _t(spark, sf_dir, "documents")
    return percolate(docs, stored)



@query("bm25_rank", oracle="""
WITH base AS (SELECT doc_id AS id,
                     CAST(len(list_filter(string_split_regex(
                       lower(text), '\\s+'), x -> x <> ''))
                       AS BIGINT) AS dl,
                     list_filter(string_split_regex(lower(text),
                       '\\s+'), x -> x <> '') AS toks
              FROM documents),
st AS (SELECT least((1000 * sum(dl)) // count(*), 400000000) AS a,
              CAST(count(*) AS DOUBLE) AS nd
       FROM base),
tf AS (SELECT id, term, least(count(*), 1023) AS tf, max(dl) AS dl
       FROM (SELECT id, dl, unnest(toks) AS term FROM base)
       WHERE term IN ('vector', 'customer', 'spark')
       GROUP BY id, term),
idf AS (SELECT term, st.a,
               CAST(round(1000000 * ln(
                 (st.nd - df + 0.5) / (df + 0.5) + 1.0)) AS BIGINT)
                 AS idf_micro
        FROM (SELECT term, CAST(count(*) AS DOUBLE) AS df
              FROM tf GROUP BY term), st),
part AS (SELECT tf.id, count(*) AS n_terms_hit,
                CAST(sum(idf_micro *
                  ((22 * tf * a * 1000000) //
                   (10 * tf * a + 3 * a + 9 * dl * 1000)))
                  AS BIGINT) AS score_u12
         FROM tf JOIN idf USING (term) GROUP BY tf.id),
top AS (SELECT * FROM part
        ORDER BY score_u12 DESC, id LIMIT 10)
SELECT id AS doc_id, n_terms_hit, score_u12,
       CAST(row_number() OVER (ORDER BY score_u12 DESC, id) AS INT)
         AS rank
FROM top
""")
def bm25_rank(spark, sf_dir):
    """BM25 top-10 for the query ``vector customer spark``
    (:func:`beats_analytics.terms.bm25_topk`): the Lucene/ES
    ranking function in engine-exact integer fixed point — idf in
    micro-nats, the tf saturation fraction as one integer floor
    division, score as a BIGINT sum. Term filter reaches the
    tokenize map-side; top-k is TakeOrderedAndProject, no global
    sort."""
    from .terms import bm25_topk
    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, ["vector", "customer", "spark"], k=10)



@query("ndcg_eval", oracle=r"""
WITH base AS (SELECT doc_id AS id,
                     list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> x <> '') AS toks
              FROM documents),
tf AS (SELECT id, term, count(*) AS tf
       FROM (SELECT id, unnest(toks) AS term FROM base)
       WHERE term IN ('vector', 'customer', 'spark')
       GROUP BY id, term),
runs AS (SELECT term AS query, id,
                row_number() OVER (PARTITION BY term
                                   ORDER BY tf DESC, id) AS rank
         FROM tf),
qrels AS (SELECT term AS query, id, id % 4 AS rel FROM tf),
hits AS (SELECT r.query, r.rank, coalesce(q.rel, 0) AS rel
         FROM runs r LEFT JOIN qrels q
           ON r.query = q.query AND r.id = q.id
         WHERE r.rank <= 10),
dcg AS (SELECT query,
               CAST(sum(CAST(round(1000000 * (pow(2, rel) - 1)
                                   / log2(rank + 1)) AS BIGINT))
                    AS BIGINT) AS dcg_micro
        FROM hits GROUP BY query),
ideal AS (
  SELECT query,
         CAST(sum(CAST(round(1000000 * (pow(2, rel) - 1)
                             / log2(irank + 1)) AS BIGINT))
              AS BIGINT) AS idcg_micro
  FROM (SELECT query, rel,
               row_number() OVER (PARTITION BY query
                                  ORDER BY rel DESC, id) AS irank
        FROM qrels WHERE rel > 0)
  WHERE irank <= 10 GROUP BY query)
SELECT d.query AS query, d.dcg_micro,
       coalesce(i.idcg_micro, 0) AS idcg_micro,
       CASE WHEN coalesce(i.idcg_micro, 0) > 0
            THEN (1000000 * d.dcg_micro) // i.idcg_micro
       END AS ndcg_micro
FROM dcg d LEFT JOIN ideal i ON d.query = i.query
""")
def ndcg_eval(spark, sf_dir):
    """Retrieval-quality evaluation
    (:func:`beats_analytics.terms.ndcg_at_k`): nDCG@10 per query
    for a deterministic tf ranking against graded relevance labels
    (``doc_id % 4`` — synthetic qrels). Per-position gains are rounded
    to integer micro-units BEFORE summation so the DCG sums are
    order-independent; qrels join broadcast; nothing corpus-sized
    shuffles past the tf aggregation."""
    from .dedup import _spread, tokens
    from .terms import ndcg_at_k
    terms = ["vector", "customer", "spark"]
    docs = _spread(_t(spark, sf_dir, "documents"))
    tf = (docs.select(F.col("doc_id").alias("id"),
                      F.explode(tokens(F.col("text"))).alias("term"))
          .filter(F.col("term").isin(terms))
          .groupBy("id", "term")
          .agg(F.count(F.lit(1)).alias("tf"))
          # two consumers (runs + qrels) — tokenize the corpus once
          .localCheckpoint())
    w = Window.partitionBy("query").orderBy(F.col("tf").desc(), "id")
    runs = (tf.select(F.col("term").alias("query"), "id", "tf")
            .withColumn("rank", F.row_number().over(w))
            .select("query", "id", "rank"))
    qrels = tf.select(F.col("term").alias("query"), "id",
                      (F.col("id") % 4).cast("long").alias("rel"))
    return ndcg_at_k(runs, qrels, k=10, query_col="query", id_col="id")



@query("record_linkage", oracle=r"""
WITH names AS (
  SELECT doc_id AS id,
         array_to_string(list_slice(
           list_filter(string_split_regex(lower(text), '\s+'),
                       x -> x <> ''), 1, 4), ' ') AS name
  FROM documents),
dirty AS (
  SELECT id + 500000 AS did,
         CASE WHEN 3 + (id // 5) % 6 <= len(name)
              THEN substr(name, 1, CAST(2 + (id // 5) % 6 AS INT))
                   || substr(name, CAST(4 + (id // 5) % 6 AS INT))
              ELSE name END AS name
  FROM names WHERE id % 5 = 0),
cand AS (
  SELECT d.did AS dirty_id, c.id AS clean_id,
         levenshtein(d.name, c.name) AS lev
  FROM dirty d JOIN names c
    ON substr(d.name, 1, 2) = substr(c.name, 1, 2)
  WHERE levenshtein(d.name, c.name) <= 2),
best AS (SELECT dirty_id, clean_id, lev,
                row_number() OVER (PARTITION BY dirty_id
                                   ORDER BY lev, clean_id) AS rn
         FROM cand)
SELECT dirty_id, clean_id, CAST(lev AS INT) AS lev FROM best WHERE rn = 1
""")
def record_linkage(spark, sf_dir):
    """Entity resolution (:func:`beats_analytics.linkage
    .blocked_link`): a deterministically-corrupted copy of every 5th
    entity name (one character deleted past the blocking prefix) is
    linked back to the clean registry via prefix blocking + built-in
    ``levenshtein`` (JVM codegen) + best-match window over candidates.
    The only join is blocking-key equality — candidate volume, never
    corpus², crosses the exchange."""
    from .dedup import _spread, tokens
    from .linkage import blocked_link
    docs = _spread(_t(spark, sf_dir, "documents"))
    names = docs.select(
        F.col("doc_id").alias("id"),
        F.array_join(F.slice(tokens(F.col("text")), 1, 4), " ")
         .alias("name"))
    p = F.expr("3 + (id DIV 5) % 6")
    cut = (names.filter(F.col("id") % 5 == 0)
           .withColumn("__name2", F.when(
               p <= F.length("name"),
               F.concat(
                   F.expr("substring(name, 1, "
                          "CAST(2 + (id DIV 5) % 6 AS INT))"),
                   F.expr("substring(name, "
                          "CAST(4 + (id DIV 5) % 6 AS INT), 1000000)")))
             .otherwise(F.col("name"))))
    dirty = cut.select((F.col("id") + 500000).alias("id"),
                       F.col("__name2").alias("name"))
    return blocked_link(dirty, names, id_col="id", name_col="name")



@query("k_anonymity", oracle="""
WITH base AS (
  SELECT event_id, user_id, strftime(ts, '%Y-%m-%d') AS d
  FROM events),
census AS (
  SELECT user_id, d, count(*) AS n FROM base GROUP BY user_id, d)
SELECT b.event_id, b.user_id, b.d
FROM base b JOIN census c ON b.user_id = c.user_id AND b.d = c.d
WHERE c.n >= 3
""")
def k_anonymity(spark, sf_dir):
    """Suppression-mode k-anonymity
    (:func:`beats_analytics.governance.k_anonymize`): keep only
    events whose quasi-identifier combination (user pseudonym, day)
    occurs ≥ 3 times — a user-day seen fewer times is singled out and
    suppressed. The census shuffles only QI columns; the verdict is a
    LEFT SEMI join that broadcasts when the qualifying-group list is
    small."""
    from .governance import k_anonymize
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.date_format("ts", "yyyy-MM-dd").alias("d"))
    return k_anonymize(ev, ["user_id", "d"], k=3)



@query("rtbf_purge", oracle="""
WITH tomb AS (SELECT DISTINCT user_id FROM events
              WHERE user_id % 17 = 0)
SELECT e.user_id, count(*) AS n_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events e LEFT JOIN tomb t ON e.user_id = t.user_id
WHERE t.user_id IS NULL
GROUP BY e.user_id
""")
def rtbf_purge(spark, sf_dir):
    """Right-to-be-forgotten propagation
    (:func:`beats_analytics.governance.purge_ids`): a tombstone
    list (deletion requests — every 17th user here) is LEFT
    ANTI-joined against the corpus; the small side broadcasts so the
    corpus never shuffles for the purge. Output: per-surviving-user
    rollup proving the tombstoned users are gone."""
    from .governance import purge_ids
    ev = _t(spark, sf_dir, "events")
    tomb = ev.filter(F.col("user_id") % 17 == 0).select("user_id")
    return (purge_ids(ev, tomb, "user_id")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                  .alias("value_cents")))



@query("vocab_coverage", oracle=r"""
WITH toks AS (SELECT list_filter(string_split_regex(lower(text),
                                                    '\s+'),
                                 x -> x <> '') AS t
              FROM documents),
g AS (SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      FROM toks WHERE len(t) >= 3),
tf AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS total FROM tf),
rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, gram) AS rn
       FROM tf)
SELECT CAST(v.vs AS INT) AS vocab_size,
       CAST(coalesce(sum(c) FILTER (rn <= v.vs), 0) AS BIGINT)
         AS covered,
       tot.total,
       CASE WHEN tot.total > 0 THEN
         (1000000 * CAST(coalesce(sum(c) FILTER (rn <= v.vs), 0)
                         AS BIGINT)) // tot.total
       END AS coverage_micro
FROM rk CROSS JOIN (VALUES (100), (1000), (4000), (16000)) v(vs), tot
GROUP BY v.vs, tot.total
""")
def vocab_coverage_q(spark, sf_dir):
    """Vocabulary-size sweep
    (:func:`beats_analytics.textstats.vocab_coverage`): corpus
    coverage of the top-v word trigrams for every candidate vocab
    size in ONE scan — one corpus-sized explode + frequency agg, a
    TakeOrdered top-cut bounded by max(v) (never a global sort), all
    thresholds answered by conditional sums unpivoted from a single
    aggregated row."""
    from .textstats import vocab_coverage
    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage(docs, ngram=3,
                          vocab_sizes=(100, 1000, 4000, 16000))



@query("skyline_docs", oracle="""
WITH p AS (
  SELECT n_chars,
         (doc_id * 2654435761) % 1000001 AS score,
         min(doc_id) AS doc_id
  FROM documents
  GROUP BY n_chars, (doc_id * 2654435761) % 1000001)
SELECT p.n_chars, p.score, p.doc_id
FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM p q
  WHERE q.n_chars >= p.n_chars AND q.score >= p.score
    AND (q.n_chars > p.n_chars OR q.score > p.score))
""")
def skyline_docs(spark, sf_dir):
    """2-D Pareto front (:func:`beats_analytics.layout
    .skyline_2d`): documents no other document beats on BOTH length
    and a synthetic quality score — the multi-objective selection
    spelled as a range-partitioned prefix-max scan (one range
    exchange + Arrow pass + k-row offset window), while the oracle
    states the quadratic NOT-EXISTS dominance definition directly."""
    from .layout import skyline_2d
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars",
        ((F.col("doc_id") * 2654435761) % 1000001).alias("score"))
    return skyline_2d(docs, x_col="n_chars", y_col="score")



@query("traffic_gini", oracle="""
WITH pk AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY user_id),
rk AS (SELECT x, user_id,
              row_number() OVER (ORDER BY x, user_id) AS i
       FROM pk),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(x) AS BIGINT) AS total,
             sum(CAST(i AS HUGEINT) * CAST(x AS HUGEINT)) AS ix
      FROM rk)
SELECT n_keys, total,
       CAST(CASE WHEN total > 0 THEN
         (1000000 * (2 * ix
                     - (CAST(n_keys AS HUGEINT) + 1)
                       * CAST(total AS HUGEINT)))
         // (CAST(n_keys AS HUGEINT) * CAST(total AS HUGEINT))
       END AS BIGINT) AS gini_micro
FROM a
""")
def traffic_gini(spark, sf_dir):
    """Traffic concentration
    (:func:`beats_analytics.checks.gini_concentration`): Gini of
    per-user event volume in decimal(38,0)/HUGEINT exact arithmetic
    (Spark decimal `div` and DuckDB HUGEINT `//` verified to share
    truncation semantics). The window runs over the aggregated key
    table, never raw events."""
    from .checks import gini_concentration
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.lit(1).cast("long").alias("w"))
    return gini_concentration(ev, key_col="user_id", weight_col="w")



@query("calibration_ece", oracle="""
WITH s AS (
  SELECT (event_id * 2654435761) % 1000001 AS p_micro,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
  FROM events),
b AS (SELECT least((p_micro * 10) // 1000000, 9) AS bin, p_micro, y
      FROM s),
g AS (SELECT CAST(bin AS INT) AS bin, count(*) AS n,
             CAST(sum(p_micro) // count(*) AS BIGINT) AS conf_micro,
             CAST((1000000 * sum(y)) // count(*) AS BIGINT)
               AS acc_micro
      FROM b GROUP BY bin),
e AS (SELECT CAST(sum(n * abs(conf_micro - acc_micro)) // sum(n)
              AS BIGINT) AS ece_micro
      FROM g)
SELECT g.bin, g.n, g.conf_micro, g.acc_micro, e.ece_micro
FROM g, e
""")
def calibration_ece(spark, sf_dir):
    """Reliability bins + ECE
    (:func:`beats_analytics.mleval.calibration_bins`): a
    deterministic synthetic model score per event vs the click
    outcome; ≤ 10 groups after one partial-combining aggregate, ECE
    broadcast back onto every bin row."""
    from .mleval import calibration_bins
    ev = _t(spark, sf_dir, "events").select(
        ((F.col("event_id") * 2654435761) % 1000001)
         .alias("p_micro"),
        (F.col("event_type") == "click").alias("label"))
    return calibration_bins(ev, n_bins=10)



@query("ips_eval", oracle="""
WITH logs AS (
  SELECT event_type AS action,
         CASE WHEN user_id % 2 = 0 THEN 'click' ELSE 'view' END
           AS target_action,
         CASE event_type WHEN 'click' THEN 300000
              WHEN 'view' THEN 250000 ELSE 150000 END
           AS propensity_micro,
         CAST(round(value * 100) AS BIGINT) * 10000 AS reward_micro
  FROM events),
w AS (SELECT *,
             CASE WHEN action = target_action
                  THEN least(1000000000000 // propensity_micro,
                             100000000)
                  ELSE 0 END AS wm
      FROM logs)
SELECT count(*) AS n,
       CAST(sum(CASE WHEN wm > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST(sum(wm * reward_micro // 1000000) // count(*) AS BIGINT)
         AS ips_micro,
       CAST(CASE WHEN sum(wm) > 0 THEN
         sum(wm * reward_micro // 1000000)
         // greatest(1, sum(wm) // 1000000)
       END AS BIGINT) AS snips_micro
FROM w
""")
def ips_eval(spark, sf_dir):
    """Off-policy evaluation
    (:func:`beats_analytics.mleval.ips_value`): IPS and SNIPS
    value of a target policy (even users → click, odd → view) from
    logs under the behavioral event mix, with the standard weight
    clip. Map-side projection + one global partial-combining
    aggregate — nothing keyed."""
    from .mleval import ips_value
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("action"),
        F.when(F.col("user_id") % 2 == 0, F.lit("click"))
         .otherwise(F.lit("view")).alias("target_action"),
        F.when(F.col("event_type") == "click", F.lit(300000))
         .when(F.col("event_type") == "view", F.lit(250000))
         .otherwise(F.lit(150000)).alias("propensity_micro"),
        (F.round(F.col("value") * 100).cast("long") * 10000)
         .alias("reward_micro"))
    return ips_value(ev)



@query("auc_eval", oracle="""
WITH s AS (
  SELECT (event_id * 2654435761) % 500001
         + CASE WHEN event_type = 'click' THEN 300000 ELSE 0 END AS sc,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
  FROM events),
g AS (SELECT sc, sum(y) AS np, sum(1 - y) AS nn FROM s GROUP BY sc),
c AS (SELECT *, coalesce(sum(nn) OVER (ORDER BY sc
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM g)
SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       CAST(sum(nn) AS BIGINT) AS n_neg,
       CAST((2 * sum(np * below) + sum(np * nn)) * 1000000
            // (2 * sum(np) * sum(nn)) AS BIGINT) AS auc_micro
FROM c
""")
def auc_eval(spark, sf_dir):
    """Exact tie-aware ROC AUC
    (:func:`beats_analytics.mleval.auc_roc`): a deterministic
    synthetic score (hash noise + a click bonus, so the AUC is
    meaningfully above ½) vs the click label. Rank-sum identity over
    the score-grouped table: groupBy collapses to ≤ |score domain|
    rows, ``global_prefix_sum`` supplies cum-negatives-below without
    a single-task window, decimal(38,0) carries the pair products."""
    from .mleval import auc_roc
    ev = _t(spark, sf_dir, "events").select(
        ((F.col("event_id") * 2654435761) % 500001
         + F.when(F.col("event_type") == "click", 300000).otherwise(0))
        .alias("score_micro"),
        (F.col("event_type") == "click").alias("label"))
    return auc_roc(ev)



@query("heavy_hitters", oracle="""
WITH t AS (
  SELECT CASE WHEN event_id % 2 = 0
              THEN 'hot_' || CAST(event_id % 3 AS VARCHAR)
              ELSE 'v' || CAST(event_id AS VARCHAR) END AS item
  FROM events),
tot AS (SELECT count(*) AS n_total FROM t)
SELECT item, count(*) AS n, tot.n_total,
       CAST(count(*) * 1000000 // tot.n_total AS BIGINT) AS freq_micro
FROM t, tot GROUP BY item, tot.n_total
HAVING count(*) * 10 > tot.n_total
""")
def heavy_hitters_q(spark, sf_dir):
    """Exact 1/k-heavy hitters via two-phase Misra-Gries
    (:func:`beats_analytics.sketch.heavy_hitters`): a skewed
    synthetic item column (3 hot values over a singleton tail). The
    MG partial bounds candidates to partitions·k with no false
    negatives; the broadcast LEFT SEMI recount makes the answer the
    EXACT ``HAVING count·k > n`` set — the oracle is that very SQL,
    no sketch error to model."""
    from .sketch import heavy_hitters
    ev = _t(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 2 == 0,
               F.concat(F.lit("hot_"),
                        (F.col("event_id") % 3).cast("string")))
        .otherwise(F.concat(F.lit("v"),
                            F.col("event_id").cast("string")))
        .alias("item"))
    return heavy_hitters(ev, "item", k=10)



@query("counter_rates", oracle="""
WITH s AS (SELECT user_id AS host, ts,
    (event_id % 7) * 100 + user_id % 50 AS c FROM events),
l AS (SELECT host, ts, c,
    lag(c) OVER (PARTITION BY host ORDER BY ts, c) AS pc,
    lag(epoch_us(ts)) OVER (PARTITION BY host ORDER BY ts, c) AS pus,
    epoch_us(ts) AS us FROM s)
SELECT host, ts,
  CAST(CASE WHEN c < pc THEN c ELSE c - pc END AS BIGINT) AS delta,
  CAST(us - pus AS BIGINT) AS dt_us,
  c < pc AS was_reset,
  CAST(CASE WHEN us - pus > 0 THEN
    (CASE WHEN c < pc THEN c ELSE c - pc END)::HUGEINT
    * 1000000000000 // (us - pus)::HUGEINT END AS BIGINT)
    AS rate_micro
FROM l WHERE pc IS NOT NULL
""")
def counter_rates_q(spark, sf_dir):
    """Monotonic-counter → per-second rate with reset detection
    (:func:`beats_analytics.events.counter_rates`): a synthetic
    sawtooth counter per host exercises the reset rule on real
    timestamps. One key exchange, both lags in one Window node,
    decimal(38,0) rate product."""
    from .events import counter_rates
    ev = _t(spark, sf_dir, "events")
    return counter_rates(
        ev.select(F.col("user_id").alias("host"), "ts",
                  ((F.col("event_id") % 7) * 100
                   + F.col("user_id") % 50).alias("ctr")),
        "host", "ts", "ctr")



@query("trend_slope", oracle="""
WITH d AS (SELECT event_type, date_diff('day', DATE '2024-01-01',
             CAST(ts AS DATE)) AS day, count(*) AS y
           FROM events GROUP BY 1, 2),
a AS (SELECT event_type, count(*) AS n,
        sum(day::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        sum(day::HUGEINT * y::HUGEINT) AS sxy,
        sum(day::HUGEINT * day::HUGEINT) AS sxx
      FROM d GROUP BY 1)
SELECT event_type, CAST(n AS BIGINT) AS n,
  CAST(CASE WHEN n::HUGEINT * sxx - sx * sx != 0 THEN
    (n::HUGEINT * sxy - sx * sy) * 1000000
    // (n::HUGEINT * sxx - sx * sx) END AS BIGINT) AS slope_micro
FROM a
""")
def trend_slope_q(spark, sf_dir):
    """Per-key OLS trend slope in exact fixed point
    (:func:`beats_analytics.events.trend_slope`) over per-type
    daily event counts — the capacity-planning readout. Rollup
    exchange + ONE partial-combining groupBy; sufficient statistics
    ride decimal(38,0)/HUGEINT so negative slopes truncate
    identically on both engines."""
    from .events import trend_slope
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.datediff(F.col("ts").cast("date"),
                                   F.lit("2024-01-01").cast("date"))
                        .alias("day"))
             .agg(F.count(F.lit(1)).alias("y")))
    return trend_slope(daily, "event_type", "day", "y")



@query("apdex_score", oracle="""
WITH s AS (SELECT event_type,
    CAST(round(value * 100) AS BIGINT) * 10 AS lat FROM events)
SELECT event_type, count(*) AS n,
  CAST(sum(CASE WHEN lat <= 50000 THEN 1 ELSE 0 END) AS BIGINT)
    AS satisfied,
  CAST(sum(CASE WHEN lat > 50000 AND lat <= 200000
           THEN 1 ELSE 0 END) AS BIGINT) AS tolerating,
  CAST((2 * sum(CASE WHEN lat <= 50000 THEN 1 ELSE 0 END)
        + sum(CASE WHEN lat > 50000 AND lat <= 200000
              THEN 1 ELSE 0 END))
       * 1000000 // (2 * count(*)) AS BIGINT) AS apdex_micro
FROM s GROUP BY event_type
""")
def apdex_score(spark, sf_dir):
    """Apdex per service (:func:`beats_analytics.events.apdex`):
    the APM satisfaction score at T = 50 ms over cent-exact synthetic
    latencies. Map-side CASE projection + one partial-combining
    groupBy — single exchange at any scale."""
    from .events import apdex
    ev = _t(spark, sf_dir, "events")
    return apdex(ev.select("event_type",
                           (F.round(F.col("value") * 100)
                            .cast("long") * 10).alias("lat")),
                 "event_type", "lat", 50_000)



@query("l_diversity", oracle="""
WITH s AS (SELECT event_type, user_id % 10 AS ubucket,
    CAST(floor(value) AS INT) % 7 AS sens FROM events)
SELECT event_type, ubucket, count(*) AS n,
       CAST(count(DISTINCT sens) AS BIGINT) AS n_sensitive
FROM s GROUP BY 1, 2 HAVING count(DISTINCT sens) < 7
""")
def l_diversity_q(spark, sf_dir):
    """l-diversity audit
    (:func:`beats_analytics.governance.l_violations`): QI groups
    whose sensitive attribute is too homogeneous — the homogeneity
    attack k-anonymity misses. One (QI, sensitive) distinct-census
    exchange; floor() guards the double→int cast both engines round
    differently."""
    from .governance import l_violations
    ev = _t(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 10).alias("ubucket"),
        (F.floor(F.col("value")).cast("int") % 7).alias("sens"))
    return l_violations(ev, ["event_type", "ubucket"], "sens", 7)



@query("annotator_kappa", oracle="""
WITH s AS (SELECT lang AS a,
    CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS b
  FROM documents),
tot AS (SELECT count(*) AS n,
        sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree FROM s),
ma AS (SELECT a AS cls, count(*)::HUGEINT AS na FROM s GROUP BY 1),
mb AS (SELECT b AS cls, count(*)::HUGEINT AS nb FROM s GROUP BY 1),
pe AS (SELECT sum(na * nb) AS pe_num FROM ma JOIN mb USING (cls)),
m AS (SELECT n, CAST(1000000 * agree // n AS BIGINT) AS po_micro,
        CAST(pe_num * 1000000 // (n::HUGEINT * n::HUGEINT) AS BIGINT)
          AS pe_micro
      FROM tot, pe)
SELECT n, po_micro, pe_micro,
  CAST(CASE WHEN pe_micro < 1000000 THEN
    (po_micro - pe_micro) * 1000000 // (1000000 - pe_micro)
  END AS BIGINT) AS kappa_micro
FROM m
""")
def annotator_kappa(spark, sf_dir):
    """Cohen's kappa between two labelers
    (:func:`beats_analytics.labeling.cohen_kappa`): the language
    column vs a deterministically corrupted copy (1-in-7 relabeled
    'xx'), so agreement is high but chance-corrected. One global
    aggregate + two broadcast-joined label marginals; pe products in
    decimal(38,0)/HUGEINT."""
    from .labeling import cohen_kappa
    docs = _t(spark, sf_dir, "documents").select(
        F.col("lang").alias("a"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
         .otherwise(F.col("lang")).alias("b"))
    return cohen_kappa(docs, "a", "b")



@query("equidepth_hist", oracle="""
WITH r AS (SELECT n_chars AS v,
    row_number() OVER (ORDER BY n_chars, doc_id) AS rk,
    count(*) OVER () AS n FROM documents)
SELECT CAST((rk - 1) * 8 // n + 1 AS INT) AS bucket,
       count(*) AS n_rows, min(v) AS lo, max(v) AS hi
FROM r GROUP BY 1
""")
def equidepth_hist_q(spark, sf_dir):
    """Exact equi-depth histogram of document lengths
    (:func:`beats_analytics.layout.equidepth_hist`): the CBO /
    zone-map statistics primitive. Rank-based buckets via
    global_rank's range exchange (never a single-task ntile window);
    tie rows are interchangeable so the result is
    tiebreaker-invariant."""
    from .layout import equidepth_hist
    docs = _t(spark, sf_dir, "documents")
    return equidepth_hist(docs, "n_chars", "doc_id", n_buckets=8)



@query("fano_burstiness", oracle="""
WITH per AS (SELECT user_id, epoch_us(ts) // 3600000000 AS b,
    count(*)::HUGEINT AS c FROM events GROUP BY 1, 2),
a AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        CAST(max(b) - min(b) + 1 AS BIGINT) AS m_buckets,
        sum(c * c) AS cc
      FROM per GROUP BY 1)
SELECT user_id, n, m_buckets,
  CAST((m_buckets::HUGEINT * cc - n::HUGEINT * n::HUGEINT) * 1000000
       // (m_buckets::HUGEINT * n::HUGEINT) AS BIGINT)
    AS fano_micro
FROM a
""")
def fano_burstiness_q(spark, sf_dir):
    """Per-user traffic burstiness as the Fano factor
    (:func:`beats_analytics.events.fano_burstiness`) of hourly
    event counts, empty buckets entering through arithmetic (span
    from min/max bucket) rather than a generate. Two bounded
    exchanges: (key, bucket) partial counts, then the per-key
    sufficient statistics in decimal(38,0)/HUGEINT."""
    from .events import fano_burstiness
    ev = _t(spark, sf_dir, "events")
    return fano_burstiness(ev, "user_id", "ts", bucket_s=3600)



@query("flow_records", oracle="""
WITH pk0 AS (SELECT
  '10.0.0.' || CAST(user_id % 50 AS VARCHAR) AS s_ip,
  '10.1.1.' || CAST(user_id % 20 AS VARCHAR) AS d_ip,
  CAST(user_id % 1000 + 1024 AS INT) AS s_p,
  CAST(443 AS INT) AS d_p, 'tcp' AS proto, ts,
  CAST(round(value * 10) AS BIGINT) + 40 AS nb,
  event_id % 2 = 0 AS swap FROM events),
pk AS (SELECT proto, ts, nb,
  CASE WHEN swap THEN d_ip ELSE s_ip END AS src_ip,
  CASE WHEN swap THEN s_ip ELSE d_ip END AS dst_ip,
  CASE WHEN swap THEN d_p ELSE s_p END AS src_port,
  CASE WHEN swap THEN s_p ELSE d_p END AS dst_port FROM pk0),
canon AS (SELECT proto,
  CASE WHEN src_ip < dst_ip OR (src_ip = dst_ip AND src_port <= dst_port)
       THEN src_ip ELSE dst_ip END AS a_ip,
  CASE WHEN src_ip < dst_ip OR (src_ip = dst_ip AND src_port <= dst_port)
       THEN src_port ELSE dst_port END AS a_port,
  CASE WHEN src_ip < dst_ip OR (src_ip = dst_ip AND src_port <= dst_port)
       THEN dst_ip ELSE src_ip END AS b_ip,
  CASE WHEN src_ip < dst_ip OR (src_ip = dst_ip AND src_port <= dst_port)
       THEN dst_port ELSE src_port END AS b_port,
  (src_ip < dst_ip OR (src_ip = dst_ip AND src_port <= dst_port))
    AS fwd,
  epoch_us(ts) AS us, nb FROM pk),
g AS (SELECT *, CASE WHEN us - lag(us) OVER
        (PARTITION BY proto, a_ip, a_port, b_ip, b_port ORDER BY us)
        > 1800000000 OR lag(us) OVER
        (PARTITION BY proto, a_ip, a_port, b_ip, b_port ORDER BY us)
        IS NULL THEN 1 ELSE 0 END AS nf FROM canon),
s AS (SELECT *, sum(nf) OVER
        (PARTITION BY proto, a_ip, a_port, b_ip, b_port ORDER BY us
         ROWS UNBOUNDED PRECEDING) AS flow FROM g)
SELECT proto, a_ip, a_port, b_ip, b_port,
  CAST(min(us) AS BIGINT) AS flow_start_us,
  CAST(sum(CASE WHEN fwd THEN 1 ELSE 0 END) AS BIGINT)
    AS packets_fwd,
  CAST(sum(CASE WHEN fwd THEN 0 ELSE 1 END) AS BIGINT)
    AS packets_rev,
  CAST(sum(CASE WHEN fwd THEN nb ELSE 0 END) AS BIGINT) AS bytes_fwd,
  CAST(sum(CASE WHEN fwd THEN 0 ELSE nb END) AS BIGINT) AS bytes_rev,
  CAST(max(us) - min(us) AS BIGINT) AS duration_us
FROM s GROUP BY proto, a_ip, a_port, b_ip, b_port, flow
""")
def flow_records(spark, sf_dir):
    """Bidirectional flow aggregation
    (:func:`beats_analytics.flows.flow_aggregate`, porting
    packetbeat's flow table: ``flows/flowid.go:244`` sorted-endpoint
    canonical key + direction flag, ``flows/flows.go:35`` idle
    timeout): synthetic packets with half the directions swapped so
    canonicalization is exercised. One canonical-key exchange feeds
    both the gap window and the flow aggregate."""
    from .flows import flow_aggregate
    ev = _t(spark, sf_dir, "events")
    pk = ev.select(
        F.concat(F.lit("10.0.0."),
                 (F.col("user_id") % 50).cast("string"))
         .alias("s_ip"),
        F.concat(F.lit("10.1.1."),
                 (F.col("user_id") % 20).cast("string"))
         .alias("d_ip"),
        (F.col("user_id") % 1000 + 1024).cast("int").alias("s_p"),
        F.lit(443).cast("int").alias("d_p"),
        F.lit("tcp").alias("proto"), "ts",
        (F.round(F.col("value") * 10).cast("long") + 40)
        .alias("n_bytes"),
        (F.col("event_id") % 2 == 0).alias("swap"))
    pk = pk.select(
        F.when(F.col("swap"), F.col("d_ip")).otherwise(F.col("s_ip"))
         .alias("src_ip"),
        F.when(F.col("swap"), F.col("s_ip")).otherwise(F.col("d_ip"))
         .alias("dst_ip"),
        F.when(F.col("swap"), F.col("d_p")).otherwise(F.col("s_p"))
         .alias("src_port"),
        F.when(F.col("swap"), F.col("s_p")).otherwise(F.col("d_p"))
         .alias("dst_port"),
        "proto", "ts", "n_bytes")
    return flow_aggregate(pk, timeout_s=1800)



@query("weighted_percentiles", oracle="""
WITH s AS (SELECT event_type,
    CAST(round(value*100) AS BIGINT) AS lat,
    event_id % 100 + 1 AS w
  FROM events),
c AS (SELECT *, sum(w) OVER (PARTITION BY event_type ORDER BY lat
        ROWS UNBOUNDED PRECEDING) AS cum,
      sum(w) OVER (PARTITION BY event_type) AS tw,
      count(*) OVER (PARTITION BY event_type) AS n FROM s),
x AS (SELECT c.*, q AS q_micro
      FROM c, UNNEST([500000, 900000, 990000]) AS t(q)),
h AS (SELECT * FROM x
      WHERE cum >= (q_micro * tw + 999999) // 1000000)
SELECT event_type, CAST(q_micro AS INT) AS q_micro,
       min(lat) AS value, CAST(min(n) AS BIGINT) AS n,
       CAST(min(tw) AS BIGINT) AS total_weight
FROM h GROUP BY 1, 2
""")
def weighted_percentiles_q(spark, sf_dir):
    """Exact weighted per-key percentiles
    (:func:`beats_analytics.events.weighted_percentiles`):
    byte-weighted latency quantiles, lower-weighted-quantile rule
    with the ceil-rank threshold. One key exchange feeds the
    cumulative-weight window; the ≤ |qs| explode happens after it.
    (Oracle note: DuckDB identifiers are case-insensitive, so the
    total-weight alias must not be ``W`` next to column ``w``.)"""
    from .events import weighted_percentiles
    ev = _t(spark, sf_dir, "events")
    src = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("lat"),
        (F.col("event_id") % 100 + 1).alias("w"))
    return weighted_percentiles(src, "event_type", "lat", "w",
                                quantiles=(0.5, 0.9, 0.99))



@query("sequence_gaps", oracle="""
WITH s AS (SELECT event_type, event_id AS rec FROM events),
l AS (SELECT event_type, rec,
    lag(rec) OVER (PARTITION BY event_type ORDER BY rec) AS p
  FROM s)
SELECT event_type, count(*) AS n,
  min(rec) AS first_seq, max(rec) AS last_seq,
  CAST(sum(CASE WHEN p IS NOT NULL AND rec > p + 1
                THEN rec - p - 1 ELSE 0 END) AS BIGINT)
    AS n_missing,
  CAST(sum(CASE WHEN p IS NOT NULL AND rec = p THEN 1 ELSE 0 END)
    AS BIGINT) AS n_dups,
  CAST(sum(CASE WHEN p IS NOT NULL AND rec > p + 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps
FROM l GROUP BY event_type
""")
def sequence_gaps_q(spark, sf_dir):
    """Per-channel sequence-number continuity audit
    (:func:`beats_analytics.events.sequence_gaps`, the
    winlogbeat record_number bookkeeping —
    ``winlogbeat/checkpoint/checkpoint.go:63``): event ids sharded by
    type have guaranteed gaps, so the audit identity
    n + n_missing = span is exercised at every sf. One key exchange
    feeds the lag window and the rollup."""
    from .events import sequence_gaps
    ev = _t(spark, sf_dir, "events")
    return sequence_gaps(
        ev.select("event_type", F.col("event_id").alias("rec")),
        "event_type", "rec")



@query("gapfill_series", oracle="""
WITH h AS (SELECT event_type,
    epoch_us(ts) // 3600000000 AS hb, count(*) AS c
  FROM events GROUP BY 1, 2),
sp AS (SELECT event_type, min(hb) AS lo, max(hb) AS hi
       FROM h GROUP BY 1),
spine AS (SELECT event_type, b AS hb
          FROM sp, UNNEST(generate_series(lo, hi)) AS t(b))
SELECT spine.event_type, CAST(spine.hb AS BIGINT) AS hb,
       CAST(coalesce(h.c, 0) AS BIGINT) AS c,
       h.c IS NULL AS is_filled
FROM spine LEFT JOIN h USING (event_type, hb)
""")
def gapfill_series_q(spark, sf_dir):
    """Dense hourly count series per event type
    (:func:`beats_analytics.events.gapfill_series`): missing
    buckets between each key's first and last observation become
    explicit zero rows flagged ``is_filled``. Per-key min/max +
    sequence explode spine, hash join back on (key, bucket);
    duplicate observations fail loudly."""
    from .events import gapfill_series
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.groupBy(
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp"))
         / 3_600_000_000).cast("long").alias("hb"))
        .agg(F.count(F.lit(1)).alias("c")))
    return gapfill_series(hourly, "event_type", "hb", "c")



@query("rolling_actives", oracle="""
WITH pairs AS (SELECT DISTINCT user_id AS u,
    epoch_us(ts) // 86400000000 AS d FROM events),
mx AS (SELECT max(d) AS m FROM pairs),
x AS (SELECT u, rd AS day FROM pairs, mx,
      UNNEST(generate_series(d, least(d + 6, m))) AS t(rd))
SELECT CAST(day AS BIGINT) AS day,
       CAST(count(DISTINCT u) AS BIGINT) AS n_active
FROM x GROUP BY 1
""")
def rolling_actives(spark, sf_dir):
    """Exact trailing-7-day active users per day
    (:func:`beats_analytics.events.rolling_active_users`): the
    DAU/WAU family. Distinct-pair exchange, bounded ×W explode,
    count_distinct per report day; the sketch path for 100 TB
    dashboards is hll_windowed (register unions instead of the
    fan-out)."""
    from .events import rolling_active_users
    ev = _t(spark, sf_dir, "events")
    return rolling_active_users(ev, "user_id", "ts", window_days=7)



@query("metric_correlation", oracle="""
WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hb,
    event_type AS metric, count(*)::BIGINT AS y
  FROM events GROUP BY 1, 2),
p AS (SELECT a.hb, a.metric AS metric_a, b.metric AS metric_b,
        a.y::HUGEINT AS x, b.y::HUGEINT AS y
      FROM h a JOIN h b USING (hb) WHERE a.metric < b.metric),
g AS (SELECT metric_a, metric_b, count(*) AS n,
        sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
        sum(x*x) AS sxx, sum(y*y) AS syy
      FROM p GROUP BY 1, 2)
SELECT metric_a, metric_b, CAST(n AS BIGINT) AS n,
  CAST(CASE WHEN n::HUGEINT*sxx - sx*sx > 0
             AND n::HUGEINT*syy - sy*sy > 0 THEN
    (n::HUGEINT*sxy - sx*sy) * (n::HUGEINT*sxy - sx*sy) * 1000000
    // ((n::HUGEINT*sxx - sx*sx) * (n::HUGEINT*syy - sy*sy))
  END AS BIGINT) AS r2_micro,
  CAST(CASE WHEN n::HUGEINT*sxy - sx*sy > 0 THEN 1
            WHEN n::HUGEINT*sxy - sx*sy < 0 THEN -1
            ELSE 0 END AS INT) AS sign
FROM g
""")
def metric_correlation_q(spark, sf_dir):
    """Pairwise Pearson r² + sign between hourly event-type series
    (:func:`beats_analytics.events.metric_correlation`): the
    incident-correlation readout, exact in fixed point (r² not r —
    no square root enters the engine). One bucket-join exchange with
    #metrics²-bounded fan-out, one pair groupBy."""
    from .events import metric_correlation
    ev = _t(spark, sf_dir, "events")
    hourly = (ev.groupBy(
        (F.unix_micros(F.col("ts").cast("timestamp"))
         / 3_600_000_000).cast("long").alias("hb"),
        F.col("event_type").alias("metric"))
        .agg(F.count(F.lit(1)).alias("y")))
    return metric_correlation(hourly, "hb", "metric", "y")



@query("multi_touch", oracle="""
WITH conv AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS cts
  FROM events GROUP BY user_id),
t AS (SELECT e.user_id, e.event_type AS channel, e.ts, e.event_id
      FROM events e JOIN conv c USING (user_id)
      WHERE c.cts IS NOT NULL AND e.ts < c.cts),
rk AS (SELECT user_id, channel,
              row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS r,
              count(*) OVER (PARTITION BY user_id) AS m
       FROM t),
cr AS (SELECT channel,
              CASE WHEN m = 1 THEN 1000000
                   WHEN m = 2 THEN 500000
                   WHEN r = 1 THEN 400000
                   WHEN r = m THEN 400000
                   ELSE 200000 // (m - 2)
                        + CASE WHEN r - 1 <= 200000 % (m - 2)
                               THEN 1 ELSE 0 END
              END AS credit
       FROM rk)
SELECT channel, count(*) AS touches,
       CAST(sum(credit) AS BIGINT) AS credit_micro
FROM cr GROUP BY channel
""")
def multi_touch(spark, sf_dir):
    """U-shaped multi-touch attribution
    (:func:`beats_analytics.events.position_attribution`):
    credit each user's pre-first-purchase touches 40/20/40 in exact
    micro-units (per-conversion credits sum to exactly 10^6; the
    interior remainder goes to the earliest interiors), rolled up by
    channel. One partitionBy(user) exchange, no joins."""
    from .events import position_attribution
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.col("event_type").alias("channel"),
        (F.col("event_type") == "purchase").alias("converted"))
    return position_attribution(ev)



@query("coec_bias", oracle="""
WITH imp AS (
  SELECT CAST(json_extract(props, '$.k') AS INT) % 25 AS item,
         1 + event_id % 10 AS position,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS clk
  FROM events),
prior AS (
  SELECT position,
         CAST((1000000 * sum(clk)) // count(*) AS BIGINT) AS ctr
  FROM imp GROUP BY position),
pi AS (
  SELECT item, count(*) AS imps,
         CAST(sum(clk) AS BIGINT) AS clicks,
         CAST(sum(ctr) AS BIGINT) AS expected_micro
  FROM imp JOIN prior USING (position) GROUP BY item)
SELECT item, imps, clicks, expected_micro,
       CAST(CASE WHEN clicks = 0 THEN 0
            ELSE 1000000000000
                 // greatest(1, expected_micro // clicks) END
            AS BIGINT) AS coec_micro
FROM pi
""")
def coec_bias(spark, sf_dir):
    """Position-bias click model
    (:func:`beats_analytics.events.coec_scores`): COEC per item
    over synthetic impression logs (item from props, position from
    event id, click events as clicks). Position prior joins
    broadcast; the only data-proportional exchange is the item
    rollup."""
    from .events import coec_scores
    ev = _t(spark, sf_dir, "events").select(
        (F.get_json_object("props", "$.k").cast("int") % 25)
         .alias("item"),
        (F.lit(1) + F.col("event_id") % 10).alias("position"),
        (F.col("event_type") == "click").alias("clicked"))
    return coec_scores(ev)



@query("cusum_drift", oracle="""
WITH RECURSIVE base AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01',
                        CAST(date_trunc('day', ts) AS DATE)) AS INT)
           AS day_idx,
         count(*) AS n0
  FROM events GROUP BY event_type, day_idx),
inj AS (
  SELECT event_type, day_idx,
         n0 + CASE WHEN event_type = 'error' AND day_idx >= 20
                   THEN 30 ELSE 0 END AS n
  FROM base),
st AS (SELECT event_type,
              CAST((1000000 * sum(n)) // count(*) AS BIGINT) AS mu
       FROM inj GROUP BY event_type),
x AS (SELECT i.event_type, i.day_idx,
             CAST(1000000 * i.n - st.mu AS BIGINT) AS x,
             row_number() OVER (PARTITION BY i.event_type
                                ORDER BY i.day_idx) AS rn
      FROM inj i JOIN st USING (event_type)),
cu AS (
  SELECT event_type, rn, day_idx,
         greatest(0, x - 1000000) AS spr,
         greatest(0, -x - 1000000) AS snr,
         CASE WHEN greatest(0, x - 1000000) > 20000000
                OR greatest(0, -x - 1000000) > 20000000
              THEN CAST(0 AS BIGINT)
              ELSE greatest(0, x - 1000000) END AS sp,
         CASE WHEN greatest(0, x - 1000000) > 20000000
                OR greatest(0, -x - 1000000) > 20000000
              THEN CAST(0 AS BIGINT)
              ELSE greatest(0, -x - 1000000) END AS sn
  FROM x WHERE rn = 1
  UNION ALL
  SELECT e.event_type, e.rn, e.day_idx,
         greatest(0, cu.sp + (e.x - 1000000)),
         greatest(0, cu.sn - e.x - 1000000),
         CASE WHEN greatest(0, cu.sp + (e.x - 1000000)) > 20000000
                OR greatest(0, cu.sn - e.x - 1000000) > 20000000
              THEN CAST(0 AS BIGINT)
              ELSE greatest(0, cu.sp + (e.x - 1000000)) END,
         CASE WHEN greatest(0, cu.sp + (e.x - 1000000)) > 20000000
                OR greatest(0, cu.sn - e.x - 1000000) > 20000000
              THEN CAST(0 AS BIGINT)
              ELSE greatest(0, cu.sn - e.x - 1000000) END
  FROM x e JOIN cu
    ON e.event_type = cu.event_type AND e.rn = cu.rn + 1)
SELECT event_type,
       CAST(day_idx AS BIGINT) AS day_idx,
       CASE WHEN spr > 20000000 THEN 'up' ELSE 'down' END
         AS direction,
       CAST(CASE WHEN spr > 20000000 THEN spr ELSE snr END AS BIGINT)
         AS stat_micro
FROM cu WHERE spr > 20000000 OR snr > 20000000
""")
def cusum_drift(spark, sf_dir):
    """CUSUM drift detection (:func:`beats_analytics.events
    .cusum_alarms`): daily per-type event counts, mean-centered
    in-plan, with a +30/day shift injected into 'error' from day 20 —
    the slow drift a spike z-test misses; CUSUM accumulates it and
    alarms. Slack 1.0, threshold 20.0 (micro-units of daily count).
    The oracle replays the alarm-and-reset recurrence with a
    recursive CTE."""
    from .events import cusum_alarms
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"),
                   F.lit("2024-01-01").cast("date")).alias("day_idx"))
        .agg(F.count(F.lit(1)).alias("n0")))
    inj = daily.withColumn(
        "n", F.col("n0") + F.when(
            (F.col("event_type") == "error") & (F.col("day_idx") >= 20),
            F.lit(30)).otherwise(F.lit(0)))
    st = inj.groupBy("event_type").agg(
        F.expr("(1000000 * sum(n)) DIV count(1)").alias("mu"))
    x = (inj.join(F.broadcast(st), "event_type")
         .select("event_type", "day_idx",
                 (F.lit(1_000_000) * F.col("n") - F.col("mu"))
                 .cast("long").alias("x_micro")))
    return cusum_alarms(x, key_col="event_type", order_col="day_idx",
                        value_col="x_micro", target_micro=0,
                        slack_micro=1_000_000,
                        threshold_micro=20_000_000)



@query("km_survival", oracle="""
WITH RECURSIVE pu AS (
  SELECT user_id, min(ts) AS first_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END)
           AS purch_ts,
         max(ts) AS last_ts
  FROM events GROUP BY user_id),
subj AS (
  SELECT 'g' || CAST(user_id % 3 AS VARCHAR) AS cohort,
         CAST(date_diff('second', first_ts,
                        coalesce(purch_ts, last_ts)) // 3600
              AS BIGINT) AS duration,
         purch_ts IS NOT NULL AS event
  FROM pu),
census AS (
  SELECT cohort, duration, count(*) AS ended,
         sum(CASE WHEN event THEN 1 ELSE 0 END) AS d
  FROM subj GROUP BY cohort, duration),
ar AS (
  SELECT cohort, duration, CAST(d AS BIGINT) AS d,
         CAST(sum(ended) OVER (PARTITION BY cohort)
              - coalesce(sum(ended) OVER (
                  PARTITION BY cohort ORDER BY duration
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS n
  FROM census),
evs AS (
  SELECT cohort, duration, n, d,
         row_number() OVER (PARTITION BY cohort
                            ORDER BY duration) AS rn
  FROM ar WHERE d > 0),
km AS (
  SELECT cohort, duration, n, d, rn,
         CAST((1000000 * (n - d)) // n AS BIGINT) AS s
  FROM evs WHERE rn = 1
  UNION ALL
  SELECT e.cohort, e.duration, e.n, e.d, e.rn,
         CAST((km.s * (e.n - e.d)) // e.n AS BIGINT)
  FROM evs e JOIN km
    ON e.cohort = km.cohort AND e.rn = km.rn + 1)
SELECT cohort, duration, n AS n_risk, d AS d_events,
       s AS surv_micro
FROM km
""")
def km_survival_q(spark, sf_dir):
    """Kaplan–Meier time-to-purchase curves
    (:func:`beats_analytics.events.km_survival`): per user,
    duration = whole hours from first event to first purchase (or to
    last observed event, censored); cohorts by user-id bucket. The
    sequential product-limit recurrence is the documented per-step
    integer rounding, mirrored by the oracle's recursive CTE."""
    from .events import km_survival
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts"))).alias("purch_ts"),
        F.max("ts").alias("last_ts"))
    subj = per_user.select(
        F.concat(F.lit("g"), (F.col("user_id") % 3).cast("string"))
         .alias("cohort"),
        F.expr("(unix_timestamp(coalesce(purch_ts, last_ts)) "
               "- unix_timestamp(first_ts)) DIV 3600")
         .cast("long").alias("duration"),
        F.col("purch_ts").isNotNull().alias("event"))
    return km_survival(subj)



@query("ab_test", oracle="""
WITH pk AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS variant,
         user_id,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s
  FROM events GROUP BY 1, 2),
pv AS (SELECT variant, count(*) AS n, sum(s) AS c
       FROM pk GROUP BY variant),
r AS (SELECT CAST(count(*) AS INT) AS n_variants,
             min(variant) AS variant_a, max(variant) AS variant_b,
             CAST(min_by(n, variant) AS BIGINT) AS n_a,
             CAST(min_by(c, variant) AS BIGINT) AS c_a,
             CAST(max_by(n, variant) AS BIGINT) AS n_b,
             CAST(max_by(c, variant) AS BIGINT) AS c_b
      FROM pv)
SELECT variant_a, variant_b, n_variants, n_a, c_a, n_b, c_b,
       CASE WHEN n_a > 0 THEN (1000000 * c_a) // n_a END AS p_a_micro,
       CASE WHEN n_b > 0 THEN (1000000 * c_b) // n_b END AS p_b_micro,
       ((c_a * n_b - c_b * n_a) * (c_a * n_b - c_b * n_a)
        * (n_a + n_b))
       > (4 * (c_a + c_b) * ((n_a + n_b) - (c_a + c_b)) * n_a * n_b)
         AS significant
FROM r
""")
def ab_test_q(spark, sf_dir):
    """Experiment readout (:func:`beats_analytics.events.ab_test`):
    users split into two arms by id parity, conversion = any purchase
    event; the z=2 significance decision is the integer
    cross-multiplied inequality in decimal(38,0)/HUGEINT, so both
    engines flag identically at the boundary."""
    from .events import ab_test
    ev = _t(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 2 == 0, F.lit("a"))
         .otherwise(F.lit("b")).alias("variant"),
        "user_id",
        (F.col("event_type") == "purchase").alias("converted"))
    return ab_test(ev, z=2)



@query("dp_counts", oracle="""
WITH census AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hr, count(*) AS n
  FROM events GROUP BY event_type, hr),
x AS (
  SELECT event_type, hr, n,
         CAST('0x' || substr(md5(concat_ws('|', event_type,
                CAST(hr AS VARCHAR), 'seed42')), 1, 15) AS BIGINT) AS v
  FROM census),
uu AS (SELECT event_type, hr, n,
              v / 1152921504606846976.0 - 0.5 AS u
       FROM x)
SELECT event_type, hr, n,
       CAST(n * 1000000
            + CAST(round(1000000 * (-(1.0) * sign(u)
                                    * ln(1 - 2 * abs(u))))
                   AS BIGINT) AS BIGINT) AS noisy_micro
FROM uu
""")
def dp_counts_q(spark, sf_dir):
    """DP-shaped noisy counter release
    (:func:`beats_analytics.governance.dp_counts`): per
    (event_type, hour) counts + inverse-CDF Laplace noise at ε=1 from
    a SEEDED md5 uniform — reproducible by design (the documented
    not-actually-private test seam; production swaps secure
    randomness). One census exchange; noise is a projection on the
    aggregated table."""
    from .governance import dp_counts
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").cast("int").alias("hr"))
    return dp_counts(ev, ["event_type", "hr"])



@query("zipf_fit", oracle=r"""
WITH toks AS (SELECT list_filter(string_split_regex(lower(text),
                                                    '\s+'),
                                 x -> x <> '') AS t
              FROM documents),
g AS (SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
      FROM toks WHERE len(t) >= 3),
tf AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, gram) AS rn
       FROM (SELECT gram, c FROM tf
             ORDER BY c DESC, gram LIMIT 10000)),
xy AS (SELECT CAST(round(1000 * ln(rn)) AS BIGINT) AS x,
              CAST(round(1000 * ln(c)) AS BIGINT) AS y
       FROM rk),
m AS (SELECT count(*) AS n_grams,
             sum(x) // count(*) AS xm,
             sum(y) // count(*) AS ym
      FROM xy)
SELECT m.n_grams,
       CAST(CASE WHEN sum((x - m.xm) * (x - m.xm)) > 0 THEN
         -((1000000 * sum((x - m.xm) * (y - m.ym)))
           // sum((x - m.xm) * (x - m.xm)))
       END AS BIGINT) AS alpha_micro,
       CAST(m.xm AS BIGINT) AS x_mean_milli,
       CAST(m.ym AS BIGINT) AS y_mean_milli
FROM xy, m GROUP BY m.n_grams, m.xm, m.ym
""")
def zipf_fit_q(spark, sf_dir):
    """Zipf power-law fit (:func:`beats_analytics.textstats
    .zipf_fit`): least-squares slope of log-freq vs log-rank over the
    top-10k trigrams in milli-nat fixed point (floor-mean centering,
    truncating integer division — verified identical toward-zero
    semantics in both engines for the negative covariance). Natural
    corpora sit near α≈1; the synthetic fixture's flatter curve is
    itself the signal a quality monitor would alert on."""
    from .textstats import zipf_fit
    docs = _t(spark, sf_dir, "documents")
    return zipf_fit(docs, ngram=3, top_n=10000)



@query("covisitation", oracle="""
WITH it0 AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d,
         CAST(json_extract(props, '$.k') AS INT) % 25 AS item
  FROM events),
it AS (SELECT * FROM it0 WHERE item IS NOT NULL),
capped AS (
  SELECT user_id, d, item FROM (
    SELECT user_id, d, item,
           row_number() OVER (PARTITION BY user_id, d
                              ORDER BY item) AS rn
    FROM it) WHERE rn <= 50),
ns AS (SELECT count(*) AS n_total
       FROM (SELECT DISTINCT user_id, d FROM capped)),
ci AS (SELECT item, count(*) AS c FROM capped GROUP BY item),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS c_ab
  FROM capped a JOIN capped b
    ON a.user_id = b.user_id AND a.d = b.d AND a.item < b.item
  GROUP BY a.item, b.item),
sc AS (SELECT p.item_a, p.item_b, p.c_ab, ca.c AS c_a, cb.c AS c_b,
              (1000000 * p.c_ab) // ca.c AS conf_micro, ns.n_total
       FROM pairs p JOIN ci ca ON ca.item = p.item_a
                    JOIN ci cb ON cb.item = p.item_b, ns)
SELECT item_a, item_b, c_ab, c_a, c_b, conf_micro,
       (conf_micro * n_total) // c_b AS lift_micro
FROM sc ORDER BY c_ab DESC, item_a, item_b LIMIT 25
""")
def covisitation_q(spark, sf_dir):
    """Session co-visitation
    (:func:`beats_analytics.events.covisitation`): item pairs
    co-occurring in (user, day) sessions with confidence and lift in
    the documented nested-floor-div fixed point. The pair census is a
    session-keyed self-join capped per session — bounded candidates,
    no explode, top-25 via TakeOrdered."""
    from .events import covisitation
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d"),
        (F.get_json_object("props", "$.k").cast("int") % 25)
         .alias("item"))
    return covisitation(ev, session_cols=("user_id", "d"),
                        item_col="item", top_n=25)



@query("boilerplate_strip", oracle="""
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS toks
           FROM documents),
lined AS (
  SELECT doc_id, source,
         list_transform(
           generate_series(0, CAST(ceil(len(toks)/2.0) AS INT) - 1),
           i -> {'pos': i,
                 'line': array_to_string(
                           list_slice(toks, i*2+1, i*2+2), ' ')}) AS pl
  FROM w),
ex0 AS (SELECT doc_id, source, unnest(pl) AS u FROM lined),
ex AS (SELECT doc_id, source, u.pos AS pos, u.line AS line FROM ex0),
nd AS (SELECT source, count(DISTINCT doc_id) AS nd
       FROM documents GROUP BY source),
freq AS (SELECT source, line, count(DISTINCT doc_id) AS nl
         FROM ex GROUP BY source, line),
boiler AS (SELECT source, line FROM freq JOIN nd USING (source)
           WHERE nl * 5 >= nd * 1 AND nl >= 2),
kept AS (SELECT ex.* FROM ex
         WHERE NOT EXISTS (SELECT 1 FROM boiler b
                           WHERE b.source = ex.source
                             AND b.line = ex.line))
SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_kept,
       string_agg(line, chr(10) ORDER BY pos) AS text
FROM kept GROUP BY doc_id, source
""")
def boilerplate_strip(spark, sf_dir):
    """Per-site boilerplate removal
    (:func:`beats_analytics.scrub.strip_boilerplate`): 2-word
    lines present in ≥1/5 of a source's documents (and ≥2 of them)
    are site furniture and are stripped from EVERY page of that
    source — the template-removal complement to ``dedup_lines``
    (which keeps the first copy). Documents are folded into 2-word
    lines identically on both engines (the corpus has no newlines);
    the frequency tables carry only (source, line-hash), the
    reassembly exchange carries each line once."""
    from .scrub import strip_boilerplate
    from .dedup import _spread
    docs = _spread(_t(spark, sf_dir, "documents"))
    w = F.split(F.col("text"), " ")
    nch = F.ceil(F.size(w) / F.lit(2.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nch - F.lit(1)),
        lambda i: F.array_join(F.slice(w, i * 2 + 1, 2), " "))
    lined = docs.select(
        "doc_id", "source", F.array_join(lines, "\n").alias("text"))
    return strip_boilerplate(lined, group_col="source",
                             min_ratio=(1, 5), min_docs=2)



@query("snapshot_diff", oracle="""
WITH old AS (SELECT doc_id, text, lang FROM documents
             WHERE doc_id % 10 <> 0),
new AS (SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
                    ELSE text END AS text,
               lang
        FROM documents WHERE doc_id % 10 <> 1)
SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old.doc_id IS NULL THEN 'added'
            WHEN new.doc_id IS NULL THEN 'removed'
            WHEN old.text = new.text AND old.lang = new.lang
              THEN 'unchanged'
            ELSE 'changed' END AS status
FROM old FULL OUTER JOIN new USING (doc_id)
""")
def snapshot_diff_q(spark, sf_dir):
    """Crawl-snapshot diff
    (:func:`beats_analytics.merge.snapshot_diff`): two synthetic
    snapshots of the corpus (each missing a disjoint 10% slice; 1 in
    7 pages re-crawled with new content) classified into added /
    removed / changed / unchanged — the recrawl-scheduler and
    incremental-index bookkeeping an upsert can't produce (it never
    sees removals). Both sides reduce to (key, sha256) map-side; one
    full-outer join on doc_id, text never shuffles."""
    from .merge import snapshot_diff
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text",
                                                 "lang")
    old = docs.filter(F.col("doc_id") % 10 != 0)
    new = (docs.filter(F.col("doc_id") % 10 != 1)
           .withColumn("text",
                       F.when(F.col("doc_id") % 7 == 0,
                              F.concat("text", F.lit(" rev2")))
                       .otherwise(F.col("text"))))
    return snapshot_diff(old, new, key_cols=["doc_id"],
                         compare_cols=["text", "lang"])



_BT_COS = ("round(list_dot_product({a}, {b}) / "
           "(sqrt(list_dot_product({a}, {a})) * "
           "sqrt(list_dot_product({b}, {b}))), 6)")


@query("bitext_mine", oracle=f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings),
srcb AS (SELECT * FROM v WHERE vec_id % 2 = 0 AND vec_id < 40),
srcc AS (SELECT * FROM v WHERE vec_id % 2 = 0),
tgt AS (SELECT * FROM v WHERE vec_id % 2 = 1),
fwd AS (SELECT x, y, cos FROM (
  SELECT s.vec_id AS x, t.vec_id AS y,
         {_BT_COS.format(a='s.e', b='t.e')} AS cos,
         row_number() OVER (PARTITION BY s.vec_id
           ORDER BY {_BT_COS.format(a='s.e', b='t.e')} DESC,
                    t.vec_id) AS rn
  FROM srcb s CROSS JOIN tgt t) WHERE rn <= 4),
denx AS (SELECT x, sum(CAST(round(cos*1000000) AS BIGINT)) AS sx,
                count(*) AS nx
         FROM fwd GROUP BY x),
cand AS (SELECT DISTINCT y FROM fwd),
bwd AS (SELECT y, sum(CAST(round(cos*1000000) AS BIGINT)) AS sy,
               count(*) AS ny FROM (
  SELECT t.vec_id AS y, s.vec_id AS x2,
         {_BT_COS.format(a='t.e', b='s.e')} AS cos,
         row_number() OVER (PARTITION BY t.vec_id
           ORDER BY {_BT_COS.format(a='t.e', b='s.e')} DESC,
                    s.vec_id) AS rn
  FROM (SELECT tgt.* FROM tgt JOIN cand ON tgt.vec_id = cand.y) t
  CROSS JOIN srcc s) WHERE rn <= 4 GROUP BY y),
pairs AS (SELECT fwd.x AS src_id, fwd.y AS tgt_id, fwd.cos AS cosine,
                 CAST((CAST(round(fwd.cos*1000000) AS BIGINT)
                  * 2 * nx * ny * 1000000) //
                 (sx * ny + sy * nx) AS BIGINT) AS margin_u6
          FROM fwd JOIN denx ON fwd.x = denx.x
                   JOIN bwd ON fwd.y = bwd.y),
best AS (SELECT *, row_number() OVER (PARTITION BY src_id
           ORDER BY margin_u6 DESC, tgt_id) AS rn
         FROM pairs WHERE margin_u6 >= 1000000)
SELECT src_id, tgt_id, cosine, margin_u6 FROM best WHERE rn = 1
""")
def bitext_mine(spark, sf_dir):
    """Margin-based bitext pair mining
    (:func:`beats_analytics.similarity.bitext_margin_mine`,
    Artetxe & Schwenk 2019 ratio margin — the CCMatrix criterion):
    even vec_ids play the source language, odd the target; a bounded
    query batch mines its best above-margin target. Two blocked
    matmul passes with broadcast queries, corpora scanned once and
    never shuffled; the margin itself is one integer floor division
    on micro-scaled cosine sums — engine-exact."""
    from .similarity import bitext_margin_mine
    emb = _t(spark, sf_dir, "embeddings")
    src_all = emb.filter(F.col("vec_id") % 2 == 0)
    return bitext_margin_mine(
        src_batch=src_all.filter(F.col("vec_id") < 40),
        tgt=emb.filter(F.col("vec_id") % 2 == 1),
        src_corpus=src_all, k=4)



@query("percolate_compiled", oracle="""
WITH stored(query_id, lang, terms) AS (VALUES
  ('q_scan_merge', CAST(NULL AS VARCHAR),
   ['scan', 'merge', 'join']),
  ('q_vector_es',  'es', ['vector', 'query']),
  ('q_busy',       CAST(NULL AS VARCHAR),
   ['fast', 'slow', 'the', 'a']),
  ('q_zh_wide',    'zh', ['customer', 'window', 'batch', 'hash'])),
qx AS (SELECT query_id, lang,
              len(list_distinct(terms)) AS n_terms,
              unnest(list_distinct(terms)) AS term
       FROM stored),
dt AS (SELECT doc_id, lang AS dlang,
              unnest(list_distinct(list_filter(
                string_split_regex(lower(text), '\\s+'),
                x -> x <> ''))) AS term
       FROM documents),
hits AS (SELECT qx.query_id, dt.doc_id, qx.n_terms
         FROM dt JOIN qx USING (term)
         WHERE qx.lang IS NULL OR qx.lang = dt.dlang)
SELECT doc_id, query_id
FROM hits GROUP BY query_id, doc_id, n_terms
HAVING count(*) = n_terms
""")
def percolate_compiled(spark, sf_dir):
    """The compiled percolator
    (:func:`beats_analytics.terms.with_percolator` via
    :func:`beats_analytics.streaming.stream_percolate`'s batch
    core): the same stored queries as ``percolate_match`` burned
    into ONE codegen projection — zero shuffle, zero join, zero
    state; emits the raw (doc_id, query_id) alert pairs. Proves the
    two percolator forms (join vs compiled) agree under the same
    oracle."""
    from .terms import with_percolator
    stored = [("q_scan_merge", None, ["scan", "merge", "join"]),
              ("q_vector_es", "es", ["vector", "query"]),
              ("q_busy", None, ["fast", "slow", "the", "a"]),
              ("q_zh_wide", "zh", ["customer", "window", "batch",
                                   "hash"])]
    docs = _t(spark, sf_dir, "documents")
    return (with_percolator(docs, stored, out_col="__mq")
            .select("doc_id", F.explode("__mq").alias("query_id")))



def _hits_oracle(iters: int = 3) -> str:
    """Unrolled fixed-iteration integer HITS mirroring
    graph.py::hits: per round an in-sum max-normalized to
    micro-units, then an out-sum likewise — all BIGINT floor
    division (same portability rationale as ``_pagerank_oracle``)."""
    # e/nodes are referenced 2× per unrolled round: without
    # MATERIALIZED DuckDB inlines the 4-table trade join at every
    # reference (measured 42 s -> sub-second at sf0.001)
    parts = [r"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE c.c_nationkey <> s.s_nationkey),
nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst FROM e),
h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
ar{i} AS (SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS raw
         FROM e JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst),
a{i} AS (SELECT n.node,
               CAST((coalesce(ar{i}.raw, 0) * 1000000)
                    // (SELECT max(raw) FROM ar{i}) AS BIGINT) AS auth
        FROM nodes n LEFT JOIN ar{i} ON ar{i}.node = n.node),
hr{i} AS (SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS raw
         FROM e JOIN a{i} a ON a.node = e.dst GROUP BY e.src),
h{i} AS (SELECT n.node,
               CAST((coalesce(hr{i}.raw, 0) * 1000000)
                    // (SELECT max(raw) FROM hr{i}) AS BIGINT) AS hub
        FROM nodes n LEFT JOIN hr{i} ON hr{i}.node = n.node)""")
    parts.append(f"""
SELECT nn.n_name AS nation, h.hub AS hub_micro, a.auth AS auth_micro
FROM h{iters} h JOIN a{iters} a ON a.node = h.node
JOIN nation nn ON nn.n_nationkey = h.node""")
    return "".join(parts)



@query("link_hits", oracle=_hits_oracle(3))
def link_hits(spark, sf_dir):
    """Hubs & authorities (:func:`beats_analytics.graph.hits`,
    Kleinberg's HITS) over the same trade graph as ``link_pagerank``
    — the second classic web-graph centrality: directories/link
    farms surface as hubs, crawl-worthy pages as authorities, and
    hub/authority asymmetry is a spam signal one score can't see.
    Max-normalization instead of L2 keeps every round's scores exact
    BIGINTs; the oracle unrolls the identical recurrence one CTE
    pair per round."""
    from .graph import hits
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    edges = (cust.join(orders, orders.o_custkey == cust.c_custkey)
             .join(li, li.l_orderkey == orders.o_orderkey)
             .join(supp, supp.s_suppkey == li.l_suppkey)
             .select(F.col("c_nationkey").alias("src"),
                     F.col("s_nationkey").alias("dst")))
    h = hits(edges, iters=3)
    return (h.join(F.broadcast(nation),
                   nation.n_nationkey == h.node)
            .select(F.col("n_name").alias("nation"),
                    "hub_micro", "auth_micro"))



@query("kwic_snippets", oracle="""
WITH t AS (SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '') AS toks
           FROM documents),
s AS (SELECT doc_id, toks,
             unnest(list_filter(
               generate_series(0, len(toks) - 2),
               i -> toks[i + 1] = 'batch'
                    AND toks[i + 2] = 'batch')) AS pos
      FROM t WHERE len(toks) >= 2)
SELECT doc_id AS id, CAST(pos AS INT) AS pos,
       array_to_string(
         list_slice(toks, greatest(pos - 2, 0) + 1,
                    least(pos + 4, len(toks))), ' ') AS snippet
FROM s
""")
def kwic_snippets_q(spark, sf_dir):
    """Keyword-in-context snippets for the phrase ``batch batch``
    (:func:`beats_analytics.terms.kwic_snippets`): every match
    with 2 tokens of context either side — the result-rendering
    step after bm25/phrase rank. Single codegen projection per doc
    (positions from a filter over candidate starts, snippet a slice
    per hit): zero shuffle, zero join; overlapping matches each get
    a row."""
    from .terms import kwic_snippets
    docs = _t(spark, sf_dir, "documents")
    return kwic_snippets(docs, "batch batch", window=2)



@query("term_drift", oracle="""
WITH old AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
new AS (SELECT text FROM documents WHERE doc_id % 2 = 1),
co AS (SELECT term, CAST(count(*) AS BIGINT) AS n_old FROM
       (SELECT unnest(list_filter(string_split_regex(lower(text),
          '\\s+'), x -> x <> '')) AS term FROM old) GROUP BY term),
cn AS (SELECT term, CAST(count(*) AS BIGINT) AS n_new FROM
       (SELECT unnest(list_filter(string_split_regex(lower(text),
          '\\s+'), x -> x <> '')) AS term FROM new) GROUP BY term),
tot AS (SELECT (SELECT CAST(sum(n_old) AS BIGINT) FROM co) AS t_o,
               (SELECT CAST(sum(n_new) AS BIGINT) FROM cn) AS t_n),
j AS (SELECT coalesce(co.term, cn.term) AS term,
             coalesce(n_old, 0) AS n_old,
             coalesce(n_new, 0) AS n_new,
             CAST(((coalesce(n_new, 0) + 1) * (t_o + 1) * 1000000) //
                  ((coalesce(n_old, 0) + 1) * (t_n + 1)) AS BIGINT)
               AS score_micro
      FROM co FULL OUTER JOIN cn ON co.term = cn.term, tot
      WHERE coalesce(n_old, 0) + coalesce(n_new, 0) >= 5),
r AS (SELECT *, 'rising' AS direction FROM j
      ORDER BY score_micro DESC, term LIMIT 10),
f AS (SELECT *, 'falling' AS direction FROM j
      ORDER BY score_micro ASC, term LIMIT 10)
SELECT * FROM r UNION ALL SELECT * FROM f
""")
def term_drift_q(spark, sf_dir):
    """Rising/falling terms between two crawl snapshots
    (:func:`beats_analytics.terms.term_drift`, even/odd doc_id
    halves): add-one-smoothed frequency-rate ratio in integer
    micro-units (one BIGINT floor division — engine-exact), top-10
    each direction via TakeOrdered, no global sort. The drift
    monitor run before retraining/re-mixing decisions."""
    from .terms import term_drift
    docs = _t(spark, sf_dir, "documents")
    return term_drift(docs.filter(F.col("doc_id") % 2 == 0),
                      docs.filter(F.col("doc_id") % 2 == 1),
                      min_count=5, k=10)



@query("trigram_grep", oracle="""
SELECT doc_id AS id,
       CAST((len(text) - len(replace(text, 'batch batch', '')))
            // len('batch batch') AS BIGINT) AS n_matches
FROM documents
WHERE contains(text, 'batch batch')
""")
def trigram_grep_q(spark, sf_dir):
    """Trigram-index substring search
    (:func:`beats_analytics.terms.trigram_grep`, the Google Code
    Search technique) for the needle ``batch batch``: required
    trigrams prune at the scan, one (id, hit) exchange, contains()
    verification on the candidate sliver. The oracle is the DIRECT
    LIKE scan — an implementation-independent spelling that checks
    the index route returns byte-identical results."""
    from .terms import trigram_grep
    docs = _t(spark, sf_dir, "documents")
    return trigram_grep(docs, "batch batch")



@query("decayed_trending", oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(1000000 >> CAST(least(
         greatest(epoch_us(TIMESTAMP '2024-01-31 00:00:00')
                  - epoch_us(ts), 0) // 86400000000,
         40) AS INT)) AS BIGINT) AS score_micro
FROM events GROUP BY event_type
""")
def decayed_trending(spark, sf_dir):
    """Half-life-decayed trending scores per event type
    (:func:`beats_analytics.events.decayed_counts`, 1-day
    half-life anchored at 2024-01-31): each event contributes
    ``2^-(age div halflife)`` micro-units via pure integer bit
    shifts — the recency-ranking primitive with no hard window
    cutoff and no pow(). One map-side bucket projection + one
    partial-combining exchange."""
    from .events import decayed_counts
    ev = _t(spark, sf_dir, "events")
    return decayed_counts(ev, key_col="event_type", ts_col="ts",
                          now="2024-01-31 00:00:00",
                          halflife_s=86_400)



@query("seasonal_anomaly", oracle="""
WITH c AS (SELECT event_type AS key, CAST(ts AS DATE) AS day,
                  CAST(extract(hour FROM ts) AS INT) AS hour,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2, 3),
m AS (SELECT key, hour, CAST(2 * median(n) AS BIGINT) AS med2
      FROM c GROUP BY key, hour)
SELECT c.key AS event_type, c.day, c.hour, c.n, m.med2,
       c.n * 4 > 3 * m.med2 AS is_spike
FROM c JOIN m USING (key, hour)
""")
def seasonal_anomaly_q(spark, sf_dir):
    """Hour-of-day seasonal spike flags
    (:func:`beats_analytics.events.seasonal_anomaly`): hourly
    counts per event type vs the median of the SAME hour across all
    days — "high for 3am" flags that a flat z-test/EWMA can't see
    because noon is always high. 2×median keeps interpolated
    medians integral; the flag is BIGINT cross-multiplication
    (defaults: above 1.5× seasonal median). The per-(key,hour)
    median agg and the join back reuse one partitioning."""
    from .events import seasonal_anomaly
    ev = _t(spark, sf_dir, "events")
    return seasonal_anomaly(ev, key_col="event_type", ts_col="ts")



@query("slo_burn", oracle="""
WITH agg AS (
  SELECT user_id % 4 AS shard,
         epoch_us(ts) // 3600000000 AS b,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(*) FILTER (WHERE event_type = 'error')
              AS BIGINT) AS n_errors
  FROM events GROUP BY 1, 2),
r AS (SELECT *,
             CAST(sum(n_errors) OVER w AS BIGINT) AS re,
             CAST(sum(n_events) OVER w AS BIGINT) AS rt
      FROM agg
      WINDOW w AS (PARTITION BY shard ORDER BY b
                   RANGE BETWEEN 5 PRECEDING AND CURRENT ROW))
SELECT shard, make_timestamp(b * 3600000000) AS bucket_start,
       n_events, n_errors,
       CAST((n_errors * 100 * 1000000) // (n_events * 1)
            AS BIGINT) AS burn_micro,
       CAST((re * 100 * 1000000) // (rt * 1) AS BIGINT)
         AS rolling_burn_micro
FROM r
""")
def slo_burn_q(spark, sf_dir):
    """Error-budget burn rate per service shard
    (:func:`beats_analytics.events.slo_burn`, 99% SLO, hourly
    buckets, 6-hour rolling horizon): 10^6 = burning exactly at
    budget. The raw event stream collapses map-side to (shard,
    bucket) counters; the rolling RANGE window runs over that tiny
    frame, so gaps don't shrink the horizon. All burns are BIGINT
    cross-multiplied divisions."""
    from .events import slo_burn
    ev = (_t(spark, sf_dir, "events")
          .withColumn("shard", F.col("user_id") % 4)
          .withColumn("is_err", F.col("event_type") == "error"))
    return slo_burn(ev, ts_col="ts", error_col="is_err",
                    key_col="shard", bucket_s=3600,
                    budget=(1, 100), horizon=6)



@query("rolling_p95", oracle="""
WITH b AS (SELECT user_id, event_id, ts,
                  CAST(round(value * 100) AS BIGINT) AS x
           FROM events),
r AS (SELECT user_id, event_id, x,
             list_sort(list(x) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)) AS arr
      FROM b)
SELECT user_id, event_id, x,
       arr[CAST((len(arr) * 95 + 99) // 100 AS INT)] AS q_value
FROM r
""")
def rolling_p95(spark, sf_dir):
    """Rolling nearest-rank p95 of event value per user
    (:func:`beats_analytics.events.rolling_quantile`, trailing
    20 rows): the live per-key latency percentile readout.
    Nearest-rank, not interpolated — the rank index is pure integer
    math and the output is an observed value, so engines agree
    bit-for-bit; window contents pinned by (ts, event_id). One key
    exchange."""
    from .events import rolling_quantile
    ev = (_t(spark, sf_dir, "events")
          .select("user_id", "event_id", "ts",
                  F.round(F.col("value") * 100).cast("long")
                  .alias("x")))
    return rolling_quantile(ev, key_col="user_id", ts_col="ts",
                            x_col="x", frame_rows=20, q_pct=95,
                            tie_cols=["event_id"]) \
        .select("user_id", "event_id", "x", "q_value")



def _lpa_oracle(iters: int = 3) -> str:
    """Unrolled deterministic synchronous LPA mirroring
    graph.py::label_propagation — per round each node adopts
    the neighbor label with the highest (count, smallest-label)
    order. MATERIALIZED edge CTE for the same reason as the HITS
    oracle."""
    parts = [r"""
WITH raw AS (SELECT c.c_nationkey AS s, sp.s_nationkey AS d
             FROM customer c
             JOIN orders o ON o.o_custkey = c.c_custkey
             JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             JOIN supplier sp ON sp.s_suppkey = l.l_suppkey
             WHERE c.c_nationkey <> sp.s_nationkey),
und AS MATERIALIZED (
  SELECT DISTINCT a, b FROM (
    SELECT s AS a, d AS b FROM raw
    UNION ALL SELECT d, s FROM raw)),
l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM und)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
l{i} AS (SELECT node, lbl FROM (
  SELECT u.a AS node, l.lbl, count(*) AS n,
         row_number() OVER (PARTITION BY u.a
           ORDER BY count(*) DESC, l.lbl ASC) AS rn
  FROM und u JOIN l{i - 1} l ON l.node = u.b
  GROUP BY u.a, l.lbl) WHERE rn = 1)""")
    parts.append(f"""
SELECT nn.n_name AS nation, CAST(l.lbl AS BIGINT) AS community
FROM l{iters} l JOIN nation nn ON nn.n_nationkey = l.node""")
    return "".join(parts)



@query("link_communities", oracle=_lpa_oracle(3))
def link_communities(spark, sf_dir):
    """Community detection by deterministic label propagation
    (:func:`beats_analytics.graph.label_propagation`) over the
    trade graph — finer than connected components (topical clusters
    / link rings inside one component), near-linear unlike
    modularity optimizers. Plain LPA is random in visit order and
    tie breaks; this variant is replay-exact (simultaneous updates,
    (count desc, smallest label) total order, fixed budget), which
    is what lets an SQL engine replay it row-for-row."""
    from .graph import label_propagation
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    edges = (cust.join(orders, orders.o_custkey == cust.c_custkey)
             .join(li, li.l_orderkey == orders.o_orderkey)
             .join(supp, supp.s_suppkey == li.l_suppkey)
             .select(F.col("c_nationkey").alias("src"),
                     F.col("s_nationkey").alias("dst")))
    lp = label_propagation(edges, iters=3)
    return (lp.join(F.broadcast(nation),
                    nation.n_nationkey == lp.node)
            .select(F.col("n_name").alias("nation"), "community"))



@query("zonemap_prune", oracle="""
WITH base AS (SELECT event_id AS id, epoch_us(ts) AS v FROM events),
nn AS (SELECT count(*) AS n FROM base),
srt AS (SELECT v,
               (row_number() OVER (ORDER BY v, id) - 1) * 32 // nn.n
                 AS b
        FROM base, nn),
hsh AS (SELECT v,
               CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || '#z'),
                                    1, 15)) AS BIGINT) % 32 AS b
        FROM base),
bounds AS (SELECT epoch_us(TIMESTAMP '2024-01-10 00:00:00') AS lo,
                  epoch_us(TIMESTAMP '2024-01-13 00:00:00') AS hi),
zs AS (SELECT 'range' AS layout, b, min(v) AS mn, max(v) AS mx,
              count(*) AS cnt FROM srt GROUP BY b
       UNION ALL
       SELECT 'hash', b, min(v), max(v), count(*)
       FROM hsh GROUP BY b),
audit AS (SELECT layout,
                 CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(count(*) FILTER (WHERE mx >= lo AND mn <= hi)
                      AS BIGINT) AS buckets_scanned,
                 CAST(coalesce(sum(cnt) FILTER (WHERE mx >= lo
                                                AND mn <= hi), 0)
                      AS BIGINT) AS rows_scanned
          FROM zs, bounds GROUP BY layout),
m AS (SELECT CAST(count(*) FILTER (WHERE v >= lo AND v <= hi)
             AS BIGINT) AS rows_matching FROM base, bounds)
SELECT audit.*, m.rows_matching FROM audit, m
""")
def zonemap_prune(spark, sf_dir):
    """Zone-map pruning audit
    (:func:`beats_analytics.layout.zonemap_stats`): the same
    events laid out range-clustered on ts vs hash-scattered on
    event_id; a 3-day BETWEEN scan against each layout's per-bucket
    min/max. Quantifies the sorted-layout argument: the range
    layout skips every bucket outside the window, the hash layout's
    buckets all span the whole month so nothing skips — same data,
    same query, ~10× the IO."""
    from .layout import zonemap_stats
    ev = (_t(spark, sf_dir, "events")
          .select("event_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("us")))
    lo = 1704844800000000   # 2024-01-10 epoch-us
    hi = 1705104000000000   # 2024-01-13 epoch-us
    return zonemap_stats(ev, sort_col="us", id_col="event_id",
                         lo=lo, hi=hi, n_buckets=32)



@query("ivm_refresh", oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n
FROM events
WHERE NOT (event_type = 'error'
           AND ts < TIMESTAMP '2024-01-21 00:00:00')
GROUP BY user_id HAVING count(*) > 0
""")
def ivm_refresh(spark, sf_dir):
    """Incremental view maintenance
    (:func:`beats_analytics.merge.ivm_counts`): a per-user count
    view materialized over days 1–20 is refreshed with a changelog —
    inserts for days 21+, retractions for the early error events —
    WITHOUT rescanning the base. The oracle recomputes the view from
    scratch over the equivalent row set: the incremental fold must
    equal the full recompute exactly (keys falling to zero vanish;
    negative counts fail in-plan)."""
    from .merge import ivm_counts
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-21 00:00:00").cast("timestamp")
    basev = (ev.filter(F.col("ts") < cut)
             .groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n")))
    inserts = (ev.filter(F.col("ts") >= cut)
               .select("user_id", F.lit(1).alias("op")))
    deletes = (ev.filter((F.col("ts") < cut)
                         & (F.col("event_type") == "error"))
               .select("user_id", F.lit(-1).alias("op")))
    return ivm_counts(basev, inserts.unionAll(deletes),
                      key_cols=["user_id"])



def _pq_oracle() -> str:
    """Full SQL replay of pq_topk's catalog instance (dim 64, m=4,
    8 codes, rerank 40, k 5): same exemplar codebook, same
    dot-identity L2 (the proven-parity fold), same rounded
    comparisons and id tie-breaks."""
    def SUB(x, s):
        return f"list_slice({x}, {1 + s * 16}, {s * 16 + 16})"

    def L2(a, b):
        return (f"round(list_dot_product({a}, {a}) - "
                f"2 * list_dot_product({a}, {b}) + "
                f"list_dot_product({b}, {b}), 6)")

    d_cols = ", ".join(
        f"{L2(SUB('v.e', s), SUB('cb.cv', s))} AS d{s}"
        for s in range(4))
    c_ctes = ",\n".join(
        f"c{s} AS (SELECT nid, code AS c{s} FROM ("
        f"SELECT nid, code, row_number() OVER (PARTITION BY nid "
        f"ORDER BY d{s}, code) AS rn FROM pairs) WHERE rn = 1)"
        for s in range(4))
    adc = " + ".join(L2(SUB("q.qv", s), f"SUB{s}") for s in range(4))
    for s in range(4):
        adc = adc.replace(f"SUB{s}", SUB(f"k{s}.cv", s))
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cb AS MATERIALIZED (
  SELECT vec_id AS code, e AS cv FROM v ORDER BY vec_id LIMIT 8),
pairs AS MATERIALIZED (
  SELECT v.vec_id AS nid, cb.code, {d_cols}
  FROM v CROSS JOIN cb),
{c_ctes},
codes AS (SELECT c0.nid, c0.c0, c1.c1, c2.c2, c3.c3, v.e
          FROM c0 JOIN c1 USING (nid) JOIN c2 USING (nid)
               JOIN c3 USING (nid) JOIN v ON v.vec_id = c0.nid),
q AS (SELECT vec_id AS query_id, e AS qv FROM v WHERE vec_id < 10),
cand AS (SELECT q.query_id, codes.nid, codes.e, q.qv,
                round({adc}, 6) AS adc
         FROM codes
         JOIN cb k0 ON k0.code = codes.c0
         JOIN cb k1 ON k1.code = codes.c1
         JOIN cb k2 ON k2.code = codes.c2
         JOIN cb k3 ON k3.code = codes.c3
         CROSS JOIN q WHERE codes.nid <> q.query_id),
short AS (SELECT * FROM (
  SELECT query_id, nid, e, qv,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc, nid) AS rn
  FROM cand) WHERE rn <= 40),
exact AS (SELECT query_id, nid AS neighbor_id,
                 round(list_dot_product(qv, e) /
                       (sqrt(list_dot_product(qv, qv)) *
                        sqrt(list_dot_product(e, e))), 6) AS cosine
          FROM short)
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS rn FROM exact)
WHERE rn <= 5
"""



@query("ann_pq_topk", oracle=_pq_oracle())
def ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN
    (:func:`beats_analytics.similarity.pq_topk`, Jégou et al.
    2011): 64-dim vectors compressed to 4 subspace codes, asymmetric
    (ADC) distance over the codes, exact cosine rerank of the top-40
    shortlist — the compressed-storage member of the ANN family
    (256 B/vector → 4 B at scan time). Every distance runs through
    the same dot-product fold the other embedding oracles prove
    engine-exact, so even PQ replays row-for-row in SQL."""
    from .similarity import pq_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(emb, queries, dim=64, k=5, m=4, n_codes=8,
                   rerank=40)



def _trustrank_oracle(iters: int = 3) -> str:
    """PageRank + TrustRank unrolled side by side (one CTE per round
    each, same integer recurrence as ``_pagerank_oracle``; the trust
    run differs only in its seed-restricted init/teleport vector),
    then the Gyongyi spam-mass arithmetic. Seeds = EUROPE nations
    present in the graph."""
    parts = [r"""
WITH e AS (SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
           FROM customer c
           JOIN orders o ON o.o_custkey = c.c_custkey
           JOIN lineitem l ON l.l_orderkey = o.o_orderkey
           JOIN supplier s ON s.s_suppkey = l.l_suppkey
           WHERE c.c_nationkey <> s.s_nationkey),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT count(*) AS c FROM nodes),
outd AS (SELECT src, count(*) AS od FROM e GROUP BY src),
sd AS (SELECT n.n_nationkey AS node
       FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
       WHERE r.r_name = 'EUROPE'
         AND n.n_nationkey IN (SELECT node FROM nodes)),
ns AS (SELECT count(*) AS c FROM sd),
r0 AS (SELECT node, CAST(1000000 // c AS BIGINT) AS rank,
              CAST((1000000 * 15) // (100 * c) AS BIGINT) AS base
       FROM nodes, nn),
t0 AS (SELECT nodes.node,
              CAST(CASE WHEN sd.node IS NOT NULL
                   THEN 1000000 // ns.c ELSE 0 END AS BIGINT) AS rank,
              CAST(CASE WHEN sd.node IS NOT NULL
                   THEN (1000000 * 15) // (100 * ns.c)
                   ELSE 0 END AS BIGINT) AS base
       FROM nodes LEFT JOIN sd ON sd.node = nodes.node, ns)"""]
    for w in ("r", "t"):
        for i in range(1, iters + 1):
            parts.append(f""",
{w}{i} AS (SELECT r.node,
              CAST(r.base + (coalesce(s.s, 0) * 85) // 100 AS BIGINT)
                AS rank, r.base
         FROM {w}{i - 1} r LEFT JOIN
           (SELECT e.dst AS node,
                   CAST(sum(r2.rank // o.od) AS BIGINT) AS s
            FROM e JOIN {w}{i - 1} r2 ON r2.node = e.src
                   JOIN outd o ON o.src = e.src
            GROUP BY e.dst) s ON s.node = r.node)""")
    parts.append(f"""
SELECT n.n_name AS nation, r.rank AS rank_micro,
       t.rank AS trust_micro,
       CASE WHEN r.rank > 0 THEN
         CAST(least(greatest(((r.rank - t.rank) * 1000000) // r.rank,
                             0), 1000000) AS BIGINT)
       END AS spam_mass_micro
FROM r{iters} r
JOIN t{iters} t ON t.node = r.node
JOIN nation n ON n.n_nationkey = r.node""")
    return "".join(parts)



@query("link_trustrank", oracle=_trustrank_oracle(3))
def link_trustrank(spark, sf_dir):
    """TrustRank + spam mass (:func:`beats_analytics.graph
    .trustrank`, :func:`~beats_analytics.graph.spam_mass`) — the
    link-spam demotion signal (Gyongyi et al., VLDB'04): teleport
    mass restricted to a trusted seed set (EUROPE nations here; in
    production a vetted host list), so rank a node holds BEYOND what
    trust flow explains is presumed earned from spam regions.
    Same per-round plan as pagerank (one exchange on src, one
    partial-agg on dst, localCheckpoint per round); seeds join in,
    never collect. Integer micro-units end to end — both power
    iterations and the mass ratio are bit-exact in SQL."""
    from . import pagerank, spam_mass, trustrank
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    edges = (cust.join(orders, orders.o_custkey == cust.c_custkey)
             .join(li, li.l_orderkey == orders.o_orderkey)
             .join(supp, supp.s_suppkey == li.l_suppkey)
             .select(F.col("c_nationkey").alias("src"),
                     F.col("s_nationkey").alias("dst")))
    seeds = (nation.join(F.broadcast(region),
                         region.r_regionkey == nation.n_regionkey)
             .filter(F.col("r_name") == "EUROPE")
             .select(F.col("n_nationkey").alias("node")))
    pr = pagerank(edges, iters=3)
    tr = trustrank(edges, seeds, iters=3)
    sm = spam_mass(pr, tr)
    return (sm.join(F.broadcast(nation),
                    nation.n_nationkey == sm.node)
              .select(F.col("n_name").alias("nation"), "rank_micro",
                      "trust_micro", "spam_mass_micro"))



def _bpe_train_ctes(n_merges: int = 6) -> str:
    """The BPE trainer unrolled one (pairs, best, apply) CTE triple
    per round — same double-space symbol rendering, same literal
    replace application, same (count desc, pair asc) tie-break as
    bpe.py, so the learned merge table is bit-identical."""
    parts = [r"""
WITH w AS (SELECT unnest(list_filter(
                    string_split_regex(lower(text), '\s+'),
                    x -> x <> '')) AS word
           FROM documents),
wc0 AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt,
               regexp_replace(word, '(.)', ' \1 ', 'g')
                 || ' </w> ' AS sym
        FROM w GROUP BY word)"""]
    for i in range(1, n_merges + 1):
        parts.append(f""",
p{i} AS (SELECT t.toks[u.i] AS l, t.toks[u.i + 1] AS r,
               CAST(sum(t.cnt) AS BIGINT) AS c
        FROM (SELECT cnt, list_filter(string_split(sym, ' '),
                                      x -> x <> '') AS toks
              FROM wc{i - 1}) t,
             UNNEST(range(1, len(t.toks))) AS u(i)
        GROUP BY 1, 2),
b{i} AS (SELECT l, r, c FROM p{i}
        ORDER BY c DESC, l ASC, r ASC LIMIT 1),
wc{i} AS (SELECT word, cnt,
               replace(sym,
                       (SELECT ' ' || l || '  ' || r || ' ' FROM b{i}),
                       (SELECT ' ' || l || r || ' ' FROM b{i})) AS sym
         FROM wc{i - 1})""")
    return "".join(parts)



def _bpe_oracle(n_merges: int = 6) -> str:
    return _bpe_train_ctes(n_merges) + "\n" + "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS merge_round, l AS left_sym, "
        f"r AS right_sym, c AS pair_count FROM b{i}"
        for i in range(1, n_merges + 1))



@query("bpe_merges", oracle=_bpe_oracle(6))
def bpe_merges_q(spark, sf_dir):
    """BPE tokenizer training (:func:`beats_analytics.bpe
    .bpe_merges`): learn the first 6 pair merges from the documents
    corpus, Sennrich et al. ACL'16. The corpus collapses to a
    vocab-sized (word, count) table in ONE shuffle — the classic
    trainer's word-frequency-dict trick, which is what makes BPE
    training feasible at 100 TB — and every merge round after that is
    vocab-sized work: pair explode + partial-combining agg +
    TakeOrdered(1) + broadcast cross join. Fully in-plan (the argmax
    pair never visits the driver); merge application is a LITERAL
    replace over double-space-delimited symbols, so greedy
    left-to-right semantics are engine-exact and the oracle replays
    the training bit-identically."""
    from . import bpe_merges
    docs = _t(spark, sf_dir, "documents")
    return bpe_merges(docs, n_merges=6)



def _bpe_encode_oracle(n_merges: int = 6) -> str:
    """Training CTEs + the encode half: distinct words fold the
    learned merges (nested literal replaces in round order — the same
    application operator as training), then documents join word →
    encoding and re-aggregate with an ordered string agg."""
    fold = "regexp_replace(dw.word, '(.)', ' \\1 ', 'g') || ' </w> '"
    for i in range(1, n_merges + 1):
        fold = (f"replace({fold},\n"
                f"  (SELECT ' ' || l || '  ' || r || ' ' FROM b{i}),\n"
                f"  (SELECT ' ' || l || r || ' ' FROM b{i}))")
    return _bpe_train_ctes(n_merges) + f""",
dw AS (SELECT DISTINCT word FROM w),
encw AS (SELECT word,
                list_filter(string_split({fold}, ' '),
                            x -> x <> '') AS toks
         FROM dw),
docs AS (SELECT doc_id,
                list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '') AS toks
         FROM documents),
occ AS (SELECT d.doc_id, u.i, d.toks[u.i] AS word
        FROM docs d, UNNEST(range(1, len(d.toks) + 1)) AS u(i)),
agg AS (SELECT o.doc_id,
               CAST(sum(len(e.toks)) AS BIGINT) AS n_bpe_tokens,
               string_agg(array_to_string(e.toks, ' '), ' '
                          ORDER BY o.i) AS bpe_text
        FROM occ o JOIN encw e ON e.word = o.word
        GROUP BY o.doc_id)
SELECT d.doc_id,
       coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens,
       coalesce(a.bpe_text, '') AS bpe_text
FROM docs d LEFT JOIN agg a ON a.doc_id = d.doc_id"""



@query("bpe_encode", oracle=_bpe_encode_oracle(6))
def bpe_encode_q(spark, sf_dir):
    """BPE tokenization with a learned merge table (:func:`beats_analytics
    .bpe.bpe_encode`): train 6 merges in-plan, then encode
    every document. The vocabulary encodes ONCE (distinct words fold
    the broadcast merge list through the built-in higher-order
    ``aggregate`` — zero Python, zero driver collects) and the corpus
    joins word → encoding, so the fold cost is vocab-proportional and
    the 100 TB side pays one join + one ordered string agg. Word
    boundaries are merge-safe by construction (a merge's left symbol
    can never contain the word-final marker)."""
    from . import bpe_encode, bpe_merges
    docs = _t(spark, sf_dir, "documents")
    return bpe_encode(docs, bpe_merges(docs, n_merges=6))



_SQL_LANG_ALT = "ar|de|en|es|fr|it|ja|ko|nl|pl|pt|ru|tr|zh"

_SQL_LANG_URL = ("'https://' || lang || '.site' || "
                 "CAST(doc_id % 20 AS VARCHAR) || '.example/' || lang "
                 "|| '/article/' || CAST(doc_id % 30 AS VARCHAR)")



@query("lang_url_pairs", oracle=rf"""
WITH base AS (
  SELECT doc_id, lang,
         regexp_replace(
           regexp_replace(lower({_SQL_LANG_URL}),
             '^(https?://)(?:{_SQL_LANG_ALT})(?:-[a-z]{{2}})?\.',
             '\1*.'),
           '/(?:{_SQL_LANG_ALT})(?:-[a-z]{{2}})?(/|$)', '/*\1', 'g')
           AS skeleton
  FROM documents),
reps AS (SELECT skeleton, lang, min(doc_id) AS rep
         FROM base GROUP BY skeleton, lang)
SELECT a.skeleton, a.lang AS lang_a, a.rep AS id_a,
       b.lang AS lang_b, b.rep AS id_b
FROM reps a JOIN reps b ON b.skeleton = a.skeleton
WHERE a.lang < b.lang
""")
def lang_url_pairs_q(spark, sf_dir):
    """Bitext candidates by URL alignment (:func:`beats_analytics
    .urls.lang_url_pairs`) — the CCAligned/WikiMatrix prefilter:
    translations live at URLs differing only in a language marker
    (subdomain ``fr.`` / path ``/fr/``), so the wildcarded skeleton
    keys cross-language pairs with ZERO text comparison. Demo URLs
    derive deterministically from (doc_id, lang). One rep per
    (skeleton, lang) BEFORE the self-join bounds any hot template's
    fan-out at |langs|²; exchanges carry (skeleton, lang, id) only.
    The regexes avoid lookahead so Java and RE2 agree byte-for-byte."""
    from . import lang_url_pairs
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("lang"), F.lit(".site"),
                   (F.col("doc_id") % 20).cast("string"),
                   F.lit(".example/"), F.col("lang"),
                   F.lit("/article/"),
                   (F.col("doc_id") % 30).cast("string"))
    return lang_url_pairs(docs.select("doc_id", "lang",
                                      url.alias("url")))



@query("sentence_split", oracle=r"""
WITH s AS (
  SELECT doc_id,
         regexp_extract_all(text, '([^.!?]+(?:[.!?]+|$))', 1) AS arr
  FROM documents),
e AS (
  SELECT doc_id,
         unnest(range(len(arr))) AS sent_idx,
         unnest(arr) AS raw
  FROM s),
t AS (
  SELECT doc_id, CAST(sent_idx AS BIGINT) AS sent_idx,
         regexp_replace(regexp_replace(raw, '^[ \t\r\n]+', ''),
                        '[ \t\r\n]+$', '') AS sentence
  FROM e)
SELECT doc_id, sent_idx, sentence FROM t WHERE length(sentence) > 0
""")
def sentence_split_q(spark, sf_dir):
    """Rule-based sentence segmentation (:func:`beats_analytics
    .textstats.split_sentences`) — the chunking primitive ahead of
    packing / per-sentence dedup. One regexp_extract_all +
    posexplode + trim, all codegen map-side: the explode multiplies
    rows before any exchange, so 100 TB of documents segment at scan
    speed. Index is assigned pre-filter so dropped empty fragments
    don't renumber. The pattern avoids lookaround → Java and RE2
    agree and the oracle is exact."""
    from . import split_sentences
    docs = _t(spark, sf_dir, "documents")
    out = split_sentences(docs)
    return out.select("doc_id",
                      F.col("sent_idx").cast("long").alias("sent_idx"),
                      "sentence")



@query("clock_skew", oracle=r"""
WITH e AS (
  SELECT user_id % 40 AS host, ts,
         ts + to_milliseconds(
           ((user_id % 40) % 7 - 3) * 45000 + event_id % 1000)
           AS recv
  FROM events),
o AS (
  SELECT host,
         CAST((epoch_us(recv) - epoch_us(ts)) / 1000 AS BIGINT)
           AS offset_ms
  FROM e),
a AS (
  SELECT host, COUNT(*) AS n_events,
         quantile_cont(offset_ms, 0.5) AS med
  FROM o GROUP BY host)
SELECT host, CAST(n_events AS BIGINT) AS n_events,
       round(med, 1) AS median_offset_ms,
       abs(med) > 60000 AS skewed
FROM a
""")
def clock_skew_q(spark, sf_dir):
    """Per-host clock-skew detection (:func:`beats_analytics
    .events.clock_skew`): receive-vs-event-time offsets, exact median
    per host, drift flag — the fleet-health check behind the
    reference's Timestamp-vs-ingest-time split (libbeat/beat/event.go).
    Demo hosts derive from user_id; a deterministic per-host skew
    (±45 s steps) plus per-event jitter is added in-plan. One
    exchange carrying (host, offset_ms) pairs; Spark exact
    ``percentile`` == DuckDB ``quantile_cont``."""
    from . import clock_skew
    ev = _t(spark, sf_dir, "events")
    host = F.col("user_id") % 40
    skew_ms = ((host % 7 - 3) * 45000
               + F.col("event_id") % 1000).cast("long")
    recv = F.expr("ts + make_interval(0,0,0,0,0,0, __skew/1000.0)")
    df = (ev.withColumn("host", host)
            .withColumn("__skew", skew_ms)
            .withColumn("recv", recv))
    return clock_skew(df, "host", "ts", "recv")



_CDC_CHUNKS_SQL = """
WITH t AS (SELECT doc_id, coalesce(text,'') AS s,
                  length(coalesce(text,'')) AS L
           FROM documents),
c AS (SELECT doc_id, s, L,
        CASE WHEN L - 8 + 1 >= 1 THEN
          list_filter(range(1, L - 8 + 2),
            i -> (CAST('0x' || substr(md5(s[i:i+7]), 1, 15) AS BIGINT)
                  % 64 = 0) AND i < L - 8 + 1)
        ELSE [] END AS cuts
      FROM t),
b AS (SELECT doc_id, s,
             list_concat(list_concat([CAST(0 AS BIGINT)],
               list_transform(cuts, i -> CAST(i + 7 AS BIGINT))),
               [CAST(L AS BIGINT)]) AS B
      FROM c),
x AS (SELECT doc_id, s, B, unnest(range(1, len(B))) AS j FROM b),
chunks AS (
  SELECT doc_id, CAST(j - 1 AS BIGINT) AS chunk_id,
         B[j] + 1 AS start, B[j+1] - B[j] AS n_chars,
         md5(s[B[j]+1 : B[j+1]]) AS digest
  FROM x WHERE B[j+1] - B[j] > 0)
"""



@query("cdc_chunks", oracle=_CDC_CHUNKS_SQL + """
SELECT * FROM chunks
""")
def cdc_chunks_q(spark, sf_dir):
    """Content-defined chunking (Manber anchors / rsync-LBFS family,
    :func:`beats_analytics.dedup.cdc_chunks`): cut after every
    8-gram whose 60-bit md5 hash is 0 mod 64 — boundaries depend on
    local content only, so a re-crawled page with one edit shares
    every chunk but the edited one. Single zero-shuffle zero-Python
    JVM projection; chunk text is hashed away map-side."""
    from .dedup import cdc_chunks
    docs = _t(spark, sf_dir, "documents")
    return cdc_chunks(docs, k=8, divisor=64)



@query("cdc_dup_stats", oracle=_CDC_CHUNKS_SQL + """
SELECT digest, CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(n_chars) AS n_chars,
       (count(*) - 1) * min(n_chars) AS saved_chars
FROM chunks GROUP BY digest HAVING count(*) >= 2
""")
def cdc_dup_stats_q(spark, sf_dir):
    """Duplicate-chunk ledger over CDC chunks
    (:func:`beats_analytics.dedup.cdc_dup_stats`): per shared
    digest the copy count, documents touched, and chars a
    content-addressed store saves. The only exchange carries
    (digest, id, n_chars) — 48-byte rows whatever the page size."""
    from .dedup import cdc_dup_stats
    docs = _t(spark, sf_dir, "documents")
    return cdc_dup_stats(docs, k=8, divisor=64, min_copies=2)



@query("redirect_resolve", oracle="""
WITH RECURSIVE e AS (
  SELECT doc_id AS src,
         greatest(doc_id - (1 + h % 7), 0) AS dst
  FROM (SELECT doc_id,
          CAST('0x' || substr(md5('r' || CAST(doc_id AS VARCHAR)),
               1, 15) AS BIGINT) AS h
        FROM documents)
  WHERE doc_id >= 1 AND h % 4 <> 0),
walk AS (
  SELECT src, dst AS ptr, CAST(1 AS BIGINT) AS hops FROM e
  UNION ALL
  SELECT w.src, e.dst, w.hops + 1
  FROM walk w JOIN e ON w.ptr = e.src
  WHERE w.hops < 256),
f AS (SELECT src, ptr, hops,
             row_number() OVER (PARTITION BY src
                                ORDER BY hops DESC) AS rn
      FROM walk)
SELECT f.src, f.ptr AS final, f.hops,
       f.ptr NOT IN (SELECT src FROM e) AS resolved
FROM f WHERE rn = 1
""")
def redirect_resolve_q(spark, sf_dir):
    """Redirect-chain resolution by pointer doubling
    (:func:`beats_analytics.graph.resolve_pointers`): every
    source in a deterministic synthetic redirect map (75% of pages
    301 to a lower id; chains terminate on non-redirecting pages)
    resolves to its terminal page in log2(chain) self-joins instead
    of one pass per hop — 8 rounds cover 256 hops. The oracle is the
    hop-by-hop recursive CTE capped at the identical 2^rounds budget.
    Exchanges carry (src, ptr, hops) 24-byte rows only."""
    from .graph import resolve_pointers
    docs = _t(spark, sf_dir, "documents")
    u = F.col("doc_id")
    hu = F.conv(F.substring(
        F.md5(F.concat(F.lit("r"), u.cast("string"))), 1, 15),
        16, 10).cast("long")
    edges = (docs.select(u.alias("src"),
                         F.greatest(u - (1 + F.pmod(hu, F.lit(7))),
                                    F.lit(0).cast("long")).alias("dst"),
                         F.pmod(hu, F.lit(4)).alias("__g"))
             .filter((F.col("src") >= 1) & (F.col("__g") != 0))
             .drop("__g"))
    return resolve_pointers(edges, rounds=8)



def _html_tables_oracle() -> str:
    from .htmltext import (_TABLE_RE, _TR_RE, _CELL_RE,
                                   cell_strip_sql)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    built = (
        "'<html><body><h1>doc</h1><table id=meta><tr><th>Key</th>"
        "<th>Value</th></tr><tr><td>lang</td><td>' || lang || "
        "'</td></tr><tr><td>source</td><td><b>' || source || "
        "'</b> &amp; co</td></tr><tr><td>n_chars</td><td>' || "
        "CAST(n_chars AS VARCHAR) || '</td></tr></table><p>' || "
        "array_to_string(list_slice(string_split(text, ' '), 1, 10),"
        " ' ') || '</p>' || "
        "CASE WHEN doc_id % 3 = 0 THEN "
        "'<table><tr><td>id&nbsp;' || CAST(doc_id AS VARCHAR) || "
        "'</td></tr></table>' ELSE '' END || '</body></html>'")
    return f"""
WITH pages AS (SELECT doc_id, {built} AS h FROM documents),
t AS (SELECT doc_id,
        unnest(regexp_extract_all(h, {q(_TABLE_RE)}, 1)) AS tbl,
        generate_subscripts(
          regexp_extract_all(h, {q(_TABLE_RE)}, 1), 1) - 1 AS ti
      FROM pages),
r AS (SELECT doc_id, ti,
        unnest(regexp_extract_all(tbl, {q(_TR_RE)}, 1)) AS rw,
        generate_subscripts(
          regexp_extract_all(tbl, {q(_TR_RE)}, 1), 1) - 1 AS ri
      FROM t),
c AS (SELECT doc_id, ti, ri,
        unnest(regexp_extract_all(rw, {q(_CELL_RE)}, 0)) AS cl,
        generate_subscripts(
          regexp_extract_all(rw, {q(_CELL_RE)}, 0), 1) - 1 AS ci
      FROM r)
SELECT doc_id, CAST(ti AS BIGINT) AS table_idx,
       CAST(ri AS BIGINT) AS row_idx, CAST(ci AS BIGINT) AS col_idx,
       regexp_matches(cl, '(?is)^<th') AS header,
       {cell_strip_sql(f"regexp_extract(cl, {q(_CELL_RE)}, 1)")} AS cell
FROM c
"""



@query("html_tables", oracle=_html_tables_oracle())
def html_tables_q(spark, sf_dir):
    """Web-table cell extraction (:func:`beats_analytics.htmltext
    .extract_tables`): pages built deterministically from table
    columns carry a key/value metadata table (th header row, markup
    and entities inside cells) and, on every third page, a second
    one-cell table; every <td>/<th> lands as an indexed
    (table_idx, row_idx, col_idx, header, cell) row — the
    structured-data half of HTML extraction that a text strip chain
    flattens away. Pure codegen (three nested regexp transforms,
    flatten, one Generate); zero shuffle, zero Python."""
    from .htmltext import extract_tables
    docs = _t(spark, sf_dir, "documents")
    istr = F.col("doc_id").cast("string")
    first10 = F.array_join(
        F.slice(F.split(F.col("text"), " "), 1, 10), " ")
    built = F.concat(
        F.lit("<html><body><h1>doc</h1><table id=meta><tr><th>Key"
              "</th><th>Value</th></tr><tr><td>lang</td><td>"),
        F.col("lang"),
        F.lit("</td></tr><tr><td>source</td><td><b>"),
        F.col("source"),
        F.lit("</b> &amp; co</td></tr><tr><td>n_chars</td><td>"),
        F.col("n_chars").cast("string"),
        F.lit("</td></tr></table><p>"), first10, F.lit("</p>"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("<table><tr><td>id&nbsp;"), istr,
                        F.lit("</td></tr></table>")))
         .otherwise(F.lit("")),
        F.lit("</body></html>"))
    return (docs.select("doc_id",
                        F.explode(extract_tables(built)).alias("c"))
            .select("doc_id", "c.table_idx", "c.row_idx", "c.col_idx",
                    "c.header", "c.cell"))



def _rake_oracle() -> str:
    from .textstats import STOPWORDS

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    brk = r"(?i)\b(?:" + "|".join(STOPWORDS) + r")\b"
    ws_pat = r"[ \t\n\x0B\f\r]+"
    return f"""
WITH raw AS (
  SELECT doc_id,
    list_filter(list_transform(
      string_split(regexp_replace(regexp_replace(
        lower(coalesce(text, '')),
        '[^a-z0-9 \t\n\x0B\f\r]', '|', 'g'),
        {q(brk)}, '|', 'g'), '|'),
      p -> trim(regexp_replace(p, {q(ws_pat)}, ' ', 'g'))),
      p -> p <> '') AS phs
  FROM documents),
ph AS (SELECT doc_id, unnest(phs) AS phrase,
              generate_subscripts(phs, 1) AS pid
       FROM raw),
w AS (SELECT doc_id, pid, phrase,
             unnest(string_split(phrase, ' ')) AS word,
             len(string_split(phrase, ' ')) AS wl
      FROM ph),
ws AS (SELECT doc_id, word,
              (sum(wl) * 1000000) // count(*) AS wscore
       FROM w GROUP BY 1, 2),
inst AS (SELECT w.doc_id, w.pid, w.phrase,
                sum(ws.wscore) AS score_micro
         FROM w JOIN ws ON w.doc_id = ws.doc_id AND w.word = ws.word
         GROUP BY 1, 2, 3),
ds AS (SELECT doc_id, phrase, max(score_micro) AS score_micro
       FROM inst GROUP BY 1, 2),
rk AS (SELECT doc_id, phrase, CAST(score_micro AS BIGINT) AS score_micro,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY score_micro DESC, phrase) AS rank
       FROM ds)
SELECT doc_id, phrase, score_micro, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 5
"""



@query("rake_keywords", oracle=_rake_oracle())
def rake_keywords_q(spark, sf_dir):
    """RAKE keyphrase extraction (Rose et al. 2010;
    :func:`beats_analytics.terms.rake_keywords`): top-5 candidate
    phrases per document scored by summed word degree/frequency in
    integer micro-units — the zero-training corpus summarization /
    topic-tagging primitive. Phrase split is pure codegen; word stats
    and the word→phrase score join shuffle only (id, word/phrase)
    pairs; one final top-k window per doc."""
    from .terms import rake_keywords
    docs = _t(spark, sf_dir, "documents")
    return rake_keywords(docs, top_k=5)



@query("dedup_canonical", oracle=f"""
WITH RECURSIVE pairs AS ({{SIMHASH_PAIRS}}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs),
lp AS (
  SELECT doc_id AS id, doc_id AS comp FROM documents
  UNION
  SELECT e.v AS id, lp.comp FROM lp JOIN edges e ON e.u = lp.id),
comps AS (SELECT id AS doc_id, min(comp) AS component
          FROM lp GROUP BY id),
m AS (SELECT c.component, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.component
               ORDER BY d.n_chars DESC, d.doc_id) AS rn
      FROM comps c JOIN documents d USING (doc_id))
SELECT component, max(CASE WHEN rn = 1 THEN doc_id END) AS keeper_id,
       CAST(count(*) AS BIGINT) AS n_members,
       max(CASE WHEN rn = 1 THEN n_chars END) AS kept_chars,
       CAST(sum(CASE WHEN rn > 1 THEN n_chars ELSE 0 END)
            AS BIGINT) AS removed_chars
FROM m GROUP BY component
""".replace("{SIMHASH_PAIRS}", _SIMHASH_PAIRS_SQL))
def dedup_canonical_q(spark, sf_dir):
    """The full near-dup canonicalization pipeline in one plan —
    SimHash candidate pairs → connected components → one keeper per
    cluster by the longest-copy-wins rule (ties to the smaller id),
    with per-cluster member counts and the chars dedup removes. This
    is the FineWeb/Dolma-style cluster-resolution step end-to-end:
    pair-level dedup alone drops one side of each pair and leaves
    chains inconsistent; component resolution keeps exactly one
    representative per transitive cluster.

    Scale shape: pairs are banded (never all-pairs), components
    shuffle (id, label) pairs only, keeper selection windows
    (component, id, n_chars) 24-byte rows — document text never
    crosses an exchange anywhere in the plan."""
    from .components import connected_components
    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_pairs(docs, max_hamming=10, chunks=12)
    comps = connected_components(
        pairs, nodes=docs.select("doc_id"), id_col="doc_id",
        comp_col="component")
    m = comps.join(docs.select("doc_id", "n_chars"), "doc_id")
    rn = F.row_number().over(
        Window.partitionBy("component")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id")))
    ranked = m.withColumn("__rn", rn)
    return (ranked.groupBy("component")
            .agg(F.max(F.when(F.col("__rn") == 1, F.col("doc_id")))
                 .alias("keeper_id"),
                 F.count(F.lit(1)).alias("n_members"),
                 F.max(F.when(F.col("__rn") == 1, F.col("n_chars")))
                 .alias("kept_chars"),
                 F.sum(F.when(F.col("__rn") > 1, F.col("n_chars"))
                       .otherwise(F.lit(0))).alias("removed_chars")))



@query("passage_chunks", oracle=r"""
WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
s0 AS (SELECT doc_id,
         list_filter(list_transform(
           regexp_extract_all(t, '([^.!?]+(?:[.!?]+|$))', 1),
           x -> trim(regexp_replace(x, '[ \t\r\n]+', ' ', 'g'))),
           x -> x <> '') AS S
       FROM d),
s1 AS (SELECT doc_id, S,
              list_transform(S, x -> length(x) + 1) AS lens,
              len(S) AS n
       FROM s0 WHERE len(S) >= 1),
s2 AS (SELECT doc_id, S,
         list_transform(range(1, n + 1),
           i -> coalesce(list_sum(lens[1:i-1]), 0) // 200) AS bkt
       FROM s1),
s3 AS (SELECT doc_id, S, bkt,
              list_sort(list_distinct(bkt)) AS B FROM s2),
x AS (SELECT doc_id, S, bkt, unnest(B) AS b,
             generate_subscripts(B, 1) - 1 AS passage_id FROM s3),
y AS (SELECT doc_id, CAST(passage_id AS BIGINT) AS passage_id,
             list_filter(range(1, len(bkt) + 1), i -> bkt[i] = b)
               AS idxs,
             S
      FROM x)
SELECT doc_id, passage_id,
       CAST(len(idxs) AS BIGINT) AS n_sents,
       CAST(length(array_to_string(
         list_transform(idxs, i -> S[i]), ' ')) AS BIGINT) AS n_chars,
       array_to_string(list_transform(idxs, i -> S[i]), ' ')
         AS passage
FROM y
""")
def passage_chunks_q(spark, sf_dir):
    """Sentence-aware passage chunking (:func:`beats_analytics
    .packing.passage_chunks`): retrieval passages that never cut a
    sentence — sentences bucket by cumulative start offset at
    200-char pitch, a giant sentence becomes its own passage instead
    of splitting mid-word. Segmentation, prefix sums, grouping, and
    joins all inside ONE projection (pure JVM, one Generate, zero
    shuffle/Python): 100 TB chunks at scan speed."""
    from .packing import passage_chunks
    docs = _t(spark, sf_dir, "documents")
    return passage_chunks(docs, target_chars=200)



@query("change_rate", oracle="""
WITH snaps AS (
  SELECT doc_id AS url, s.snap_id,
         md5(text || CASE
           WHEN CAST('0x' || substr(md5('c' || CAST(doc_id AS VARCHAR)),
                1, 15) AS BIGINT) % 3 = 1 THEN CAST(s.snap_id AS VARCHAR)
           WHEN CAST('0x' || substr(md5('c' || CAST(doc_id AS VARCHAR)),
                1, 15) AS BIGINT) % 3 = 2
                AND s.snap_id >= 2 THEN 'v2'
           ELSE '' END) AS digest
  FROM documents, (SELECT unnest([0, 1, 2, 3]) AS snap_id) s),
lagged AS (
  SELECT url, digest <> lag(digest) OVER
           (PARTITION BY url ORDER BY snap_id) AS chg
  FROM snaps),
agg AS (
  SELECT url, CAST(count(*) AS BIGINT) AS n_snaps,
         CAST(sum(CASE WHEN chg THEN 1 ELSE 0 END) AS BIGINT)
           AS n_changes
  FROM lagged GROUP BY url),
r AS (SELECT url, n_snaps, n_changes,
             CASE WHEN n_snaps > 1
                  THEN (n_changes * 1000000) // (n_snaps - 1) END
               AS rate_micro
      FROM agg)
SELECT url, n_snaps, n_changes, CAST(rate_micro AS BIGINT) AS rate_micro,
       CASE WHEN n_snaps <= 1 THEN 'unknown'
            WHEN n_changes * 3 >= (n_snaps - 1) * 2 THEN 'hot'
            WHEN n_changes * 3 >= (n_snaps - 1) THEN 'warm'
            ELSE 'cold' END AS tier
FROM r
""")
def change_rate_q(spark, sf_dir):
    """Re-crawl scheduling signal (:func:`beats_analytics.merge
    .change_rate`): four deterministic synthetic snapshots per page —
    one third never change, one third change every crawl, one third
    change once at snapshot 2 — yield per-URL observed change
    fractions in integer micro-units and hot/warm/cold revisit tiers
    (Cho & Garcia-Molina 2003). One hash exchange on url feeds both
    the lag window and the per-key aggregate."""
    from .merge import change_rate
    docs = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(
        F.md5(F.concat(F.lit("c"), F.col("doc_id").cast("string"))),
        1, 15), 16, 10).cast("long")
    snaps = (docs.select(F.col("doc_id").alias("url"), "text",
                         F.pmod(h, F.lit(3)).alias("__cls"),
                         F.explode(F.array(*[F.lit(i) for i in range(4)]))
                         .alias("snap_id"))
             .withColumn("digest", F.md5(F.concat(
                 F.col("text"),
                 F.when(F.col("__cls") == 1,
                        F.col("snap_id").cast("string"))
                 .when((F.col("__cls") == 2) & (F.col("snap_id") >= 2),
                       F.lit("v2"))
                 .otherwise(F.lit(""))))))
    return change_rate(snaps, key_col="url")



@query("bot_cadence", oracle="""
WITH base AS (
  SELECT user_id, event_id, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS seq
  FROM events),
m AS (
  SELECT user_id, event_id,
         CASE WHEN user_id % 10 = 0
              THEN TIMESTAMP '2024-01-01' + to_seconds(seq * 30)
              ELSE ts END AS ts
  FROM base),
g0 AS (
  SELECT user_id,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER
            (PARTITION BY user_id ORDER BY ts, event_id)) // 1000
           AS gap
  FROM m),
g AS (SELECT user_id, gap FROM g0 WHERE gap IS NOT NULL),
a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
             list_sort(list(gap)) AS arr
      FROM g GROUP BY user_id),
p AS (SELECT user_id, n_gaps,
             arr[CAST((n_gaps + 1) // 2 AS BIGINT)] AS med,
             arr[CAST((9 * n_gaps + 9) // 10 AS BIGINT)]
               - arr[CAST((n_gaps + 9) // 10 AS BIGINT)] AS spr
      FROM a)
SELECT user_id, n_gaps,
       CAST(med AS BIGINT) AS median_gap_ms,
       CAST(spr AS BIGINT) AS spread_ms,
       CAST(CASE WHEN med > 0 THEN (spr * 1000000) // med END
            AS BIGINT) AS cadence_micro,
       (n_gaps >= 10 AND coalesce(
          CASE WHEN med > 0 THEN (spr * 1000000) // med END <= 100000,
          spr = 0)) AS is_bot
FROM p
""")
def bot_cadence_q(spark, sf_dir):
    """Inter-arrival-regularity bot detection
    (:func:`beats_analytics.events.bot_cadence`): every tenth
    user's timestamps are rewritten in-plan to a perfect 30-second
    metronome; the nearest-rank (p90−p10)/median gap spread — pure
    integer arithmetic, bit-exact across engines — flags them while
    organic users' bursty gaps stay above the 10% threshold. One
    hash exchange on user feeds the lag window and the aggregate."""
    from .events import bot_cadence
    ev = _t(spark, sf_dir, "events")
    seq = F.row_number().over(
        Window.partitionBy("user_id").orderBy("ts", "event_id"))
    m = (ev.select("user_id", "event_id",
                   F.col("ts").cast("timestamp").alias("ts"),
                   seq.alias("__seq"))
         .withColumn("ts", F.when(
             F.col("user_id") % 10 == 0,
             F.expr("timestampadd(SECOND, __seq * 30, "
                    "TIMESTAMP '2024-01-01')"))
             .otherwise(F.col("ts"))))
    return bot_cadence(m, key_col="user_id", ts_col="ts")



def _meta_tags_oracle() -> str:
    from .htmltext import (_TITLE_RE, _CANON_RE, _CANON_RE2,
                                   _meta_content, cell_strip_sql)

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def first_sql(*pats: str) -> str:
        expr = "''"
        for p in reversed(pats):
            expr = (f"CASE WHEN regexp_extract(h, {q(p)}, 1) <> '' "
                    f"THEN regexp_extract(h, {q(p)}, 1) ELSE {expr} END")
        return expr

    d1, d2 = _meta_content("description")
    o1, o2 = _meta_content("og:title")
    r1, r2 = _meta_content("robots")
    robots = f"lower({first_sql(r1, r2)})"
    built = (
        "'<html><head><title> Doc &amp; ' || CAST(doc_id AS VARCHAR) ||"
        " ' of ' || source || ' </title>' || "
        "CASE WHEN doc_id % 2 = 0 THEN "
        "'<meta name=\"description\" content=\"A ' || lang || "
        "' page\">' ELSE "
        "'<meta content=\"Alt ' || lang || ' desc\" "
        "name=\"description\">' END || "
        "CASE WHEN doc_id % 2 = 0 THEN "
        "'<link rel=\"canonical\" href=\"https://ex.com/' || "
        "CAST(doc_id AS VARCHAR) || '\">' ELSE "
        "'<link href=\"https://ex.com/alt/' || "
        "CAST(doc_id AS VARCHAR) || '\" rel=\"canonical\">' END || "
        "CASE WHEN doc_id % 4 = 0 THEN "
        "'<meta property=\"og:title\" content=\"OG ' || "
        "CAST(doc_id AS VARCHAR) || '\">' ELSE '' END || "
        "CASE CAST(doc_id % 5 AS INT) "
        "WHEN 0 THEN '<meta name=\"robots\" content=\"index,follow\">' "
        "WHEN 1 THEN '<meta name=\"robots\" content=\"noindex\">' "
        "WHEN 2 THEN '<meta name=\"robots\" "
        "content=\"NOINDEX, nofollow\">' "
        "WHEN 3 THEN '<meta content=\"none\" name=\"robots\">' "
        "ELSE '' END || '</head><body>x</body></html>'")
    return f"""
WITH pages AS (SELECT doc_id, {built} AS h FROM documents)
SELECT doc_id,
  {cell_strip_sql(f"regexp_extract(h, {q(_TITLE_RE)}, 1)")} AS title,
  {cell_strip_sql(first_sql(d1, d2))} AS description,
  {first_sql(_CANON_RE, _CANON_RE2)} AS canonical,
  {cell_strip_sql(first_sql(o1, o2))} AS og_title,
  (regexp_matches({robots}, '\\bnoindex\\b')
   OR regexp_matches({robots}, '\\bnone\\b')) AS noindex,
  (regexp_matches({robots}, '\\bnofollow\\b')
   OR regexp_matches({robots}, '\\bnone\\b')) AS nofollow
FROM pages
"""



@query("meta_tags", oracle=_meta_tags_oracle())
def meta_tags_q(spark, sf_dir):
    """<head> metadata extraction (:func:`beats_analytics
    .htmltext.extract_meta`): title / description / rel=canonical /
    og:title plus the per-page indexing gate (robots meta noindex /
    nofollow / none) that robots.txt can't express — pages built
    deterministically with both attribute orders, entities in the
    title, and a 5-way robots cycle. Pure codegen projection, zero
    shuffle/Python."""
    from .htmltext import extract_meta
    docs = _t(spark, sf_dir, "documents")
    istr = F.col("doc_id").cast("string")
    built = F.concat(
        F.lit("<html><head><title> Doc &amp; "), istr,
        F.lit(" of "), F.col("source"), F.lit(" </title>"),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit('<meta name="description" content="A '),
                        F.col("lang"), F.lit(' page">')))
         .otherwise(F.concat(F.lit('<meta content="Alt '), F.col("lang"),
                             F.lit(' desc" name="description">'))),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit('<link rel="canonical" '
                              'href="https://ex.com/'), istr,
                        F.lit('">')))
         .otherwise(F.concat(F.lit('<link href="https://ex.com/alt/'),
                             istr, F.lit('" rel="canonical">'))),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit('<meta property="og:title" content="OG '),
                        istr, F.lit('">'))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit('<meta name="robots" content="index,follow">'))
         .when(F.col("doc_id") % 5 == 1,
               F.lit('<meta name="robots" content="noindex">'))
         .when(F.col("doc_id") % 5 == 2,
               F.lit('<meta name="robots" content="NOINDEX, nofollow">'))
         .when(F.col("doc_id") % 5 == 3,
               F.lit('<meta content="none" name="robots">'))
         .otherwise(F.lit("")),
        F.lit("</head><body>x</body></html>"))
    pages = docs.select("doc_id", built.alias("html"))
    return extract_meta(pages).select(
        "doc_id", "title", "description", "canonical", "og_title",
        "noindex", "nofollow")



@query("feed_items", oracle=r"""
WITH pages AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN
      '<rss><channel><title>ch</title>' ||
      '<item><title><![CDATA[Post ' || CAST(doc_id AS VARCHAR) ||
      ' & co]]></title><link>https://f.ex/p/' ||
      CAST(doc_id AS VARCHAR) ||
      '</link><guid>g-' || CAST(doc_id AS VARCHAR) ||
      '</guid><pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate></item>' ||
      '<item><title>Untracked ' || lang ||
      '</title><link>https://f.ex/q/' || CAST(doc_id AS VARCHAR) ||
      '</link></item>' ||
      '<item><title>no link, dropped</title></item>' ||
      '</channel></rss>'
    ELSE
      '<feed xmlns="http://www.w3.org/2005/Atom"><title>ch</title>' ||
      '<entry><title>Entry ' || CAST(doc_id AS VARCHAR) ||
      '</title><link rel="alternate" href="https://f.ex/a/' ||
      CAST(doc_id AS VARCHAR) || '"/><id>tag:' ||
      CAST(doc_id AS VARCHAR) ||
      '</id><updated>2024-01-02T03:04:05Z</updated></entry>' ||
      '<entry><title>Second</title><link href="https://f.ex/b/' ||
      CAST(doc_id AS VARCHAR) || '"/></entry>' ||
      '</feed>'
    END AS xml
  FROM documents),
r AS (SELECT doc_id,
        unnest(regexp_extract_all(xml,
          '(?is)<item[\s>](.*?)</item\s*>', 1)) AS e,
        'rss' AS kind
      FROM pages
      UNION ALL
      SELECT doc_id,
        unnest(regexp_extract_all(xml,
          '(?is)<entry[\s>](.*?)</entry\s*>', 1)) AS e,
        'atom' AS kind
      FROM pages),
t AS (SELECT doc_id, kind,
        nullif(trim(regexp_replace(trim(regexp_extract(e,
          '(?is)<title\s*>(.*?)</title\s*>', 1)),
          '(?is)^<!\[CDATA\[(.*)\]\]>$', '\1')), '') AS title,
        CASE WHEN kind = 'rss'
             THEN nullif(trim(regexp_extract(e,
                  '(?is)<link\s*>(.*?)</link\s*>', 1)), '')
             ELSE nullif(regexp_extract(e,
                  '(?is)<link\s[^>]*href\s*=\s*"([^"]*)"', 1), '')
        END AS link,
        CASE WHEN kind = 'rss'
             THEN nullif(trim(regexp_extract(e,
                  '(?is)<guid\s*>(.*?)</guid\s*>', 1)), '')
             ELSE nullif(trim(regexp_extract(e,
                  '(?is)<id\s*>(.*?)</id\s*>', 1)), '')
        END AS entry_id,
        CASE WHEN kind = 'rss'
             THEN nullif(trim(regexp_extract(e,
                  '(?is)<pubDate\s*>(.*?)</pubDate\s*>', 1)), '')
             ELSE nullif(trim(regexp_extract(e,
                  '(?is)<updated\s*>(.*?)</updated\s*>', 1)), '')
        END AS published
      FROM r)
SELECT doc_id, title, link, entry_id, published, kind
FROM t WHERE link IS NOT NULL
""")
def feed_items_q(spark, sf_dir):
    """Feed parsing (:func:`beats_analytics.robots.parse_feed`):
    even pages carry an RSS 2.0 channel (CDATA title, a guid-less
    item, a link-less item that must drop), odd pages an Atom feed
    (href links, ids, updated stamps) — both forms parse in one
    unconditional pass per blob and concatenate, so mixed-feed
    corpora need no dispatch. Pure codegen, zero shuffle/Python."""
    from .robots import parse_feed
    docs = _t(spark, sf_dir, "documents")
    istr = F.col("doc_id").cast("string")
    rss = F.concat(
        F.lit("<rss><channel><title>ch</title>"
              "<item><title><![CDATA[Post "), istr,
        F.lit(" & co]]></title><link>https://f.ex/p/"), istr,
        F.lit("</link><guid>g-"), istr,
        F.lit("</guid><pubDate>Mon, 01 Jan 2024 00:00:00 GMT"
              "</pubDate></item><item><title>Untracked "),
        F.col("lang"),
        F.lit("</title><link>https://f.ex/q/"), istr,
        F.lit("</link></item>"
              "<item><title>no link, dropped</title></item>"
              "</channel></rss>"))
    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom">'
              "<title>ch</title><entry><title>Entry "), istr,
        F.lit('</title><link rel="alternate" href="https://f.ex/a/'),
        istr, F.lit('"/><id>tag:'), istr,
        F.lit("</id><updated>2024-01-02T03:04:05Z</updated></entry>"
              '<entry><title>Second</title><link href="https://f.ex/b/'),
        istr, F.lit('"/></entry></feed>'))
    pages = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, rss).otherwise(atom)
        .alias("xml"))
    return (pages.select("doc_id",
                         F.explode(parse_feed(F.col("xml"))).alias("e"))
            .select("doc_id", "e.title", "e.link", "e.entry_id",
                    "e.published", "e.kind"))



@query("hreflang_links", oracle=r"""
WITH pages AS (
  SELECT doc_id,
    '<html><head>' ||
    '<link rel="alternate" hreflang="' || lang ||
    '" href="https://ex.com/' || lang || '/' ||
    CAST(doc_id AS VARCHAR) || '">' ||
    '<link hreflang="DE" href="https://ex.com/de/' ||
    CAST(doc_id AS VARCHAR) || '" rel="alternate">' ||
    CASE WHEN doc_id % 2 = 0 THEN
      '<link rel="alternate" href="https://ex.com/x/' ||
      CAST(doc_id AS VARCHAR) || '" hreflang="x-default">'
    ELSE '' END ||
    '<link rel="alternate" hreflang="fr">' ||
    '<link rel="stylesheet" href="/s.css">' ||
    '</head></html>' AS html
  FROM documents),
t AS (SELECT doc_id,
        unnest(regexp_extract_all(html, '(?is)<link\s[^>]*>', 0)) AS tag
      FROM pages),
a AS (SELECT doc_id,
        lower(regexp_extract(tag,
          '(?is)hreflang\s*=\s*"([^"]*)"', 1)) AS hreflang,
        regexp_extract(tag, '(?is)href\s*=\s*"([^"]*)"', 1) AS href
      FROM t
      WHERE regexp_matches(tag, '(?is)rel\s*=\s*"alternate"'))
SELECT doc_id, hreflang, href
FROM a WHERE hreflang <> '' AND href <> ''
""")
def hreflang_links_q(spark, sf_dir):
    """Publisher-declared translation graph (:func:`beats_analytics
    .htmltext.extract_hreflang`): rel=alternate hreflang
    links with free attribute order (tag matched whole, attributes
    re-extracted), x-default kept, stylesheet links and
    attribute-incomplete alternates dropped, language codes
    lowercased — the high-precision bitext-pair signal next to the
    heuristic lang_url_pairs miner. Pure codegen, zero
    shuffle/Python."""
    from .htmltext import extract_hreflang
    docs = _t(spark, sf_dir, "documents")
    istr = F.col("doc_id").cast("string")
    built = F.concat(
        F.lit('<html><head><link rel="alternate" hreflang="'),
        F.col("lang"), F.lit('" href="https://ex.com/'),
        F.col("lang"), F.lit("/"), istr, F.lit('">'),
        F.lit('<link hreflang="DE" href="https://ex.com/de/'),
        istr, F.lit('" rel="alternate">'),
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit('<link rel="alternate" '
                              'href="https://ex.com/x/'), istr,
                        F.lit('" hreflang="x-default">')))
         .otherwise(F.lit("")),
        F.lit('<link rel="alternate" hreflang="fr">'
              '<link rel="stylesheet" href="/s.css">'
              "</head></html>"))
    pages = docs.select("doc_id", built.alias("html"))
    return (pages.select(
        "doc_id",
        F.explode(extract_hreflang(F.col("html"))).alias("a"))
        .select("doc_id", "a.hreflang", "a.href"))



def _dom_templates_oracle() -> str:
    from .htmltext import dom_fingerprint_sql
    snip = "substr(coalesce(text, ''), 1, 40)"
    return f"""
WITH pages AS (
  SELECT doc_id, source,
    '<html><head><title>' || {snip} || '</title></head><body>' ||
    CASE WHEN doc_id % 3 = 0 THEN
           '<div class="m-' || source || '"><h1>' || {snip} ||
           '</h1><p>' || {snip} || '</p></div>'
         WHEN doc_id % 3 = 1 THEN
           '<div class="m-' || source || '"><h1>' || {snip} ||
           '</h1><ul><li>' || CAST(doc_id AS VARCHAR) || '</li><li>' ||
           source || '</li></ul></div>'
         ELSE
           '<table class="t"><tr><td>' || {snip} || '</td><td>' ||
           CAST(doc_id AS VARCHAR) || '</td></tr></table>' END
    || '</body></html>' AS html
  FROM documents),
fp AS (SELECT doc_id, source,
              {dom_fingerprint_sql('html')} AS template_hash
       FROM pages)
SELECT template_hash, CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       min(doc_id) AS exemplar
FROM fp GROUP BY template_hash
"""



@query("dom_templates", oracle=_dom_templates_oracle())
def dom_templates_q(spark, sf_dir):
    """Template-cluster detection (:func:`beats_analytics
    .htmltext.dom_fingerprint`): pages grouped by the md5 of their
    normalized tag sequence — the structure-only dedup axis that
    content dedup misses (listing pages, tag archives, calendar spam
    share a LAYOUT while every page's text differs). Pages are built
    deterministically with three structural variants whose content,
    attribute values, and ids all vary per row; exactly the three
    structures survive as clusters. The fingerprint is a pure codegen
    projection; the only shuffle carries (32-byte hash, source,
    doc_id)."""
    from .htmltext import dom_fingerprint
    docs = _t(spark, sf_dir, "documents")
    istr = F.col("doc_id").cast("string")
    snip = F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40)
    main = (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit('<div class="m-'), F.col("source"),
                        F.lit('"><h1>'), snip, F.lit("</h1><p>"), snip,
                        F.lit("</p></div>")))
         .when(F.col("doc_id") % 3 == 1,
               F.concat(F.lit('<div class="m-'), F.col("source"),
                        F.lit('"><h1>'), snip, F.lit("</h1><ul><li>"),
                        istr, F.lit("</li><li>"), F.col("source"),
                        F.lit("</li></ul></div>")))
         .otherwise(
               F.concat(F.lit('<table class="t"><tr><td>'), snip,
                        F.lit("</td><td>"), istr,
                        F.lit("</td></tr></table>"))))
    html = F.concat(F.lit("<html><head><title>"), snip,
                    F.lit("</title></head><body>"), main,
                    F.lit("</body></html>"))
    fp = docs.select("doc_id", "source",
                     dom_fingerprint(html).alias("template_hash"))
    return (fp.groupBy("template_hash")
            .agg(F.count(F.lit(1)).alias("n_pages"),
                 F.countDistinct("source").alias("n_sources"),
                 F.min("doc_id").alias("exemplar")))



@query("domain_wilson", oracle="""
WITH g AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(sum(CASE WHEN n_chars >= 300 AND lang = 'en'
                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS k
  FROM documents GROUP BY source),
w AS (
  SELECT source, n, k,
    round((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
           + (1.96*1.96) / (2.0 * CAST(n AS DOUBLE))
           - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                          * (1.0 - CAST(k AS DOUBLE)
                                   / CAST(n AS DOUBLE))
                          + (1.96*1.96) / (4.0 * CAST(n AS DOUBLE)))
                         / CAST(n AS DOUBLE)))
          / (1.0 + (1.96*1.96) / CAST(n AS DOUBLE)), 6) AS wilson_lb
  FROM g)
SELECT source, n, k, wilson_lb,
       CAST(row_number() OVER (ORDER BY wilson_lb DESC, source)
            AS BIGINT) AS rank
FROM w
""")
def domain_wilson_q(spark, sf_dir):
    """Domain quality ranking with small-sample shrinkage
    (:func:`beats_analytics.textstats.wilson_lower_bound`): per
    source, the Wilson lower bound of the fraction of documents
    passing a quality gate (here: English with >= 300 chars), ranked
    descending. The plain pass-rate ranks a 3-of-3 domain above a
    97-of-100 one; the Wilson bound is the standard fix (the same
    statistic behind "sort by rating" systems), and at crawl scale it
    decides which domains feed the curated tier. The Spark expression
    and the SQL oracle share one parenthesization of IEEE ops, so the
    doubles agree bit-for-bit before the 6-dp round. The rank window
    is a single-task sort over the per-source AGGREGATE (one row per
    domain — thousands, not 10^12), after the distributed groupBy."""
    from .textstats import wilson_lower_bound
    docs = _t(spark, sf_dir, "documents")
    g = (docs.groupBy("source")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.when((F.col("n_chars") >= 300)
                           & (F.col("lang") == "en"), 1)
                     .otherwise(0)).cast("bigint").alias("k")))
    w = g.withColumn(
        "wilson_lb",
        F.round(wilson_lower_bound(F.col("k"), F.col("n")), 6))
    rank = F.row_number().over(
        Window.orderBy(F.col("wilson_lb").desc(), F.col("source")))
    return (w.withColumn("rank", rank.cast("bigint"))
            .select("source", "n", "k", "wilson_lb", "rank"))



@query("domain_weights", oracle=r"""
WITH t AS (SELECT doc_id, source,
                  (source IN ('src0', 'src1', 'src2')) AS cur,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '') AS toks
           FROM documents),
uocc AS (SELECT cur, unnest(toks) AS w1 FROM t),
u AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1_all,
             CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT)
               AS c1_cur
      FROM uocc GROUP BY w1),
v AS (SELECT CAST(count(*) AS DOUBLE) AS v_all,
             CAST(greatest(sum(CASE WHEN c1_cur > 0 THEN 1 ELSE 0 END),
                           1) AS DOUBLE) AS v_cur
      FROM u),
g AS (SELECT source, cur, toks[CAST(i AS INT)] AS w1,
             toks[CAST(i AS INT) + 1] AS w2
      FROM t, UNNEST(range(1, len(toks))) AS r(i)
      WHERE len(toks) >= 2),
b AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12_all,
             CAST(sum(CASE WHEN cur THEN 1 ELSE 0 END) AS BIGINT)
               AS c12_cur
      FROM g GROUP BY w1, w2),
s AS (SELECT g.source,
             CAST(round(ln((b.c12_all + 1.0) / (u.c1_all + v.v_all))
                        * 1000000) AS BIGINT) AS lp_all,
             CAST(round(ln((b.c12_cur + 1.0) / (u.c1_cur + v.v_cur))
                        * 1000000) AS BIGINT) AS lp_cur
      FROM g JOIN b USING (w1, w2) JOIN u USING (w1), v),
d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(floor(sum(lp_cur) / count(*)) AS BIGINT)
               AS avg_lp_ref_micro,
             CAST(floor(sum(lp_all) / count(*)) AS BIGINT)
               AS avg_lp_proxy_micro
      FROM s GROUP BY source),
base AS (SELECT DISTINCT source FROM documents),
e AS (SELECT base.source,
             coalesce(d.n_bigrams, 0) AS n_bigrams,
             d.avg_lp_ref_micro, d.avg_lp_proxy_micro,
             CASE WHEN coalesce(d.n_bigrams, 0) > 0
                  THEN greatest(CAST(0 AS BIGINT),
                                d.avg_lp_ref_micro
                                - d.avg_lp_proxy_micro)
                  ELSE CAST(0 AS BIGINT) END AS excess_micro
      FROM base LEFT JOIN d USING (source)),
tot AS (SELECT CAST(sum(n_bigrams * excess_micro) AS DOUBLE) AS tt
        FROM e)
SELECT source, n_bigrams, avg_lp_ref_micro, avg_lp_proxy_micro,
       excess_micro,
       CASE WHEN tot.tt > 0
            THEN CAST(round(CAST(n_bigrams * excess_micro AS DOUBLE)
                            * 1000000.0 / tot.tt) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS weight_micro
FROM e, tot
""")
def domain_weights_q(spark, sf_dir):
    """DoReMi-style data mixture weights (:func:`beats_analytics
    .lm.domain_weights`): per-source sampling weights from the excess
    loss between a curated-reference bigram LM (trained on the
    curated sources, nb_quality's convention — on the synthetic
    word-soup corpus a lang gate gives every domain zero excess, while
    source-curation demonstrates the full dynamic range: curated-
    aligned domains split ~41/31/28%% of the mass, the rest clip to
    zero) and a corpus-proxy LM (trained on everything),
    both fit in-plan from ONE unigram and ONE bigram explode via
    conditional sums. Domains the reference compresses better than
    the generalist carry target-aligned signal and get weight;
    domains both find equally hard clip to zero. Integer micro-nat
    quantization before every cross-row sum keeps the whole thing
    engine-exact."""
    from . import domain_weights
    docs = _t(spark, sf_dir, "documents")
    return domain_weights(
        docs, curated=F.col("source").isin("src0", "src1", "src2"))



@query("mirror_detect", oracle=f"""
WITH pairs AS ({_SIMHASH_PAIRS_SQL}),
src AS (SELECT doc_id, source FROM documents),
x AS (SELECT least(a.source, b.source) AS host_a,
             greatest(a.source, b.source) AS host_b
      FROM pairs p JOIN src a ON a.doc_id = p.id_a
                   JOIN src b ON b.doc_id = p.id_b
      WHERE a.source <> b.source),
agg AS (SELECT host_a, host_b, CAST(count(*) AS BIGINT) AS n_pairs
        FROM x GROUP BY host_a, host_b),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       FROM documents GROUP BY source)
SELECT agg.host_a, agg.host_b, agg.n_pairs,
       CAST(round(CAST(agg.n_pairs AS DOUBLE) * 1000000.0
                  / CAST(least(sa.n_docs, sb.n_docs) AS DOUBLE))
            AS BIGINT) AS mirror_micro
FROM agg JOIN sz sa ON sa.source = agg.host_a
         JOIN sz sb ON sb.source = agg.host_b
""")
def mirror_detect_q(spark, sf_dir):
    """Mirror-site detection (:func:`beats_analytics.dedup
    .mirror_hosts`): cross-host near-dup concentration per unordered
    host pair — the overlap coefficient vs the smaller side in
    micro-units. Inherits the banded SimHash join (same 60-bit/12-
    chunk parameters as dedup_simhash_pairs, whose oracle this one
    embeds verbatim as its pairs CTE); the rollup ships (host, host)
    keys only. The crawl-curation step that collapses mirrors/CDNs
    BEFORE document-level dedup burns compute on them."""
    from . import mirror_hosts
    docs = _t(spark, sf_dir, "documents")
    return mirror_hosts(docs, max_hamming=10, chunks=12)



@query("corpus_report", oracle=r"""
WITH g AS (
  SELECT source AS domain,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars,
         CAST(coalesce(sum(CASE WHEN text IS NULL THEN 0
           ELSE len(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) END), 0) AS BIGINT)
           AS n_tokens,
         CAST(count(DISTINCT CASE WHEN text IS NULL THEN '__NULL__'
                                  ELSE md5(text) END) AS BIGINT)
           AS n_distinct,
         CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_en,
         CAST(sum(CASE WHEN text IS NOT NULL AND length(text) >= 300
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_q
  FROM documents GROUP BY source)
SELECT domain, n_docs, n_chars, n_tokens,
       n_tokens // n_docs AS avg_doc_tokens,
       (n_en * 1000000) // n_docs AS en_share_micro,
       ((n_docs - n_distinct) * 1000000) // n_docs AS dup_rate_micro,
       (n_empty * 1000000) // n_docs AS empty_share_micro,
       (n_q * 1000000) // n_docs AS quality_share_micro
FROM g
""")
def corpus_report_q(spark, sf_dir):
    """Per-source corpus data card (:func:`beats_analytics
    .checks.corpus_report`): volume, token mass, English share,
    exact-duplicate rate, emptiness, and the quality-gate share — all
    aggregates of ONE pass per the checks module's rule (N signals
    never become N scans; the distinct-digest count expands inside
    the same shuffle and ships 32-byte keys). Integer micro-unit
    ratios via BIGINT floor division, engine-exact."""
    from . import corpus_report
    docs = _t(spark, sf_dir, "documents")
    return corpus_report(docs)



def _kcore_oracle(k: int = 3, rounds: int = 4) -> str:
    """Unrolled peeling recurrence, one (degree, filter) CTE pair per
    round — same unrolling discipline as ``_pagerank_oracle``."""
    parts = [r"""
WITH e0 AS (SELECT DISTINCT least(o_custkey, l_suppkey + 1000000) AS a,
                   greatest(o_custkey, l_suppkey + 1000000) AS b
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            WHERE l_quantity >= 48)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
d{i} AS (SELECT node, count(*) AS deg FROM
          (SELECT a AS node FROM e{i - 1}
           UNION ALL SELECT b FROM e{i - 1}) GROUP BY node),
e{i} AS (SELECT a, b FROM e{i - 1}
         WHERE a IN (SELECT node FROM d{i} WHERE deg >= {k})
           AND b IN (SELECT node FROM d{i} WHERE deg >= {k}))""")
    parts.append(f""",
df AS (SELECT node, count(*) AS deg FROM
        (SELECT a AS node FROM e{rounds}
         UNION ALL SELECT b FROM e{rounds}) GROUP BY node)
SELECT node, CAST(deg AS BIGINT) AS degree
FROM df WHERE deg >= {k}""")
    return "".join(parts)



@query("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark, sf_dir):
    """k-core extraction (:func:`beats_analytics.graph.kcore`)
    over the high-quantity customer--supplier trade graph (supplier
    ids offset into their own node range): peel nodes with residual
    degree < 3 to a fixed point, keep the dense center. The
    recursive "dense backbone" signal next to pagerank/trustrank —
    raw degree can be farmed with leaf pages, core membership
    cannot. Peeling is order-independent (the k-core is unique), so
    the fixed 4-round budget is bit-reproducible and idempotent past
    the measured depth-2 convergence; the oracle unrolls the same
    recurrence one CTE pair per round. Per round the plan ships only
    8-byte node ids and 16-byte edge pairs."""
    from .graph import kcore
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (orders.join(li, li.l_orderkey == orders.o_orderkey)
             .filter(F.col("l_quantity") >= 48)
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_suppkey") + F.lit(1000000)).alias("dst")))
    return kcore(edges, k=3, rounds=4)



_TRAP_URL_SQL = """CASE event_type
  WHEN 'click' THEN 'https://click.example.com/cal/'
    || CAST(year(ts) AS VARCHAR) || '/' || CAST(month(ts) AS VARCHAR)
    || '/' || CAST(day(ts) AS VARCHAR) || '/e'
    || CAST(event_id AS VARCHAR)
    || CASE WHEN event_id % 2 = 0 THEN '/print' ELSE '' END
  WHEN 'view' THEN 'https://view.example.com/p/'
    || CAST(event_id % 50 AS VARCHAR) || '?s='
    || md5(CAST(event_id AS VARCHAR))
  WHEN 'purchase' THEN 'https://buy.example.com/page/'
    || CAST(event_id % 50 AS VARCHAR)
  WHEN 'signup' THEN 'https://join.example.com/join?ref='
    || CAST(event_id % 7 AS VARCHAR)
  ELSE 'https://err.example.com/status' END"""



def _trap_urls(ev: DataFrame) -> DataFrame:
    """Deterministic per-event crawl URLs with two classic traps baked
    in (calendar paths + session-id params), rebuilt verbatim by
    ``_TRAP_URL_SQL`` — the `_messy_urls` fixture discipline."""
    ts, eid = F.col("ts"), F.col("event_id")
    estr = eid.cast("string")
    et = F.col("event_type")
    url = (
        F.when(et == "click", F.concat(
            F.lit("https://click.example.com/cal/"),
            F.year(ts).cast("string"), F.lit("/"),
            F.month(ts).cast("string"), F.lit("/"),
            F.dayofmonth(ts).cast("string"), F.lit("/e"), estr,
            F.when(eid % 2 == 0, F.lit("/print")).otherwise(F.lit(""))))
        .when(et == "view", F.concat(
            F.lit("https://view.example.com/p/"),
            (eid % 50).cast("string"), F.lit("?s="), F.md5(estr)))
        .when(et == "purchase", F.concat(
            F.lit("https://buy.example.com/page/"),
            (eid % 50).cast("string")))
        .when(et == "signup", F.concat(
            F.lit("https://join.example.com/join?ref="),
            (eid % 7).cast("string")))
        .otherwise(F.lit("https://err.example.com/status")))
    return ev.select(url.alias("url"))



@query("crawl_traps", oracle=f"""
WITH u AS (SELECT {_TRAP_URL_SQL} AS url FROM events),
t AS (SELECT url,
        lower(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
        regexp_replace(regexp_replace(
          regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*',
                         ''),
          '[0-9a-f]{{16,}}', 'H', 'g'), '[0-9]+', 'N', 'g') AS tpl
      FROM u),
a AS (SELECT host, CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
             CAST(count(DISTINCT tpl) AS BIGINT) AS n_templates
      FROM t GROUP BY host)
SELECT host, n_urls, n_templates,
       CAST(n_urls * 1000000 // n_templates AS BIGINT)
         AS urls_per_template_micro,
       (n_urls * 1000000 // n_templates) >= 100000000 AS trap
FROM a
""")
def crawl_traps_q(spark, sf_dir):
    """Crawl-trap detection (:func:`beats_analytics.urls
    .crawl_traps`): hosts whose distinct-URL count explodes relative
    to their distinct path TEMPLATES (hex runs -> H, digit runs -> N)
    — the frontier-side budget guard that fires from the URL list
    alone, before any fetch. The fixture bakes in a calendar trap
    (every event a fresh /cal/y/m/d/eN URL, 2 shapes) and a
    session-id trap (md5 param, 1 shape) next to three bounded hosts;
    the threshold flags exactly the two traps at every sf. One
    groupBy-host shuffle (Expand x2 for the two distincts), ratio in
    integer micro-units."""
    from .urls import crawl_traps
    ev = _t(spark, sf_dir, "events")
    return crawl_traps(_trap_urls(ev), min_ratio=100)



@query("url_path_rollup", oracle=f"""
WITH u AS (SELECT {_TRAP_URL_SQL} AS url FROM events),
t AS (SELECT lower(regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host,
      list_filter(string_split(regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/'),
        x -> x <> '') AS parts
      FROM u),
x AS (SELECT host, d AS depth,
        '/' || array_to_string(parts[1:d], '/') AS prefix
      FROM t, UNNEST(generate_series(1,
        least(len(parts), 3))) AS s(d)
      WHERE len(parts) > 0)
SELECT host, CAST(depth AS INT) AS depth, prefix,
       count(*) AS n_pages
FROM x GROUP BY 1, 2, 3
""")
def url_path_rollup_q(spark, sf_dir):
    """Hierarchical path-prefix census
    (:func:`beats_analytics.urls.url_path_rollup`) over the trap
    fixture URLs: which subtrees of each host dominate the crawl —
    the drill-down companion of `crawl_traps`. Pure codegen split +
    bounded ≤ max_depth explode + one partial-combining groupBy."""
    from .urls import url_path_rollup
    ev = _t(spark, sf_dir, "events")
    return url_path_rollup(_trap_urls(ev), "url", max_depth=3)



def _geohash_rollup_oracle() -> str:
    from .geo import geohash_oracle_sql
    cell = geohash_oracle_sql(
        "(user_id * 7919) % 180000001 - 90000000",
        "(event_id * 104729) % 360000001 - 180000000", 4)
    return (f"SELECT {cell} AS cell, count(*) AS n\n"
            f"FROM events GROUP BY 1")



@query("geohash_cells", oracle=_geohash_rollup_oracle())
def geohash_cells(spark, sf_dir):
    """Traffic per geohash cell
    (:func:`beats_analytics.geo.geohash_rollup`): the grid
    heatmap over deterministic synthetic micro-degree coordinates.
    Exact integer quantization + bit interleave + base32, staged
    through named columns so every projection stays inside codegen
    limits (the one-expression spelling trips janino past precision
    4); ONE partial-combining groupBy on the ≤ 32^4 cell key. The
    oracle replays the identical bit fold via the module's SQL
    emitter — parity pinned to the public spec by the u4pruydqqvj
    known vector in test_geo."""
    from .geo import geohash_rollup
    ev = _t(spark, sf_dir, "events")
    lat = ((F.col("user_id") * 7919) % 180_000_001 - 90_000_000)
    lon = ((F.col("event_id") * 104729) % 360_000_001 - 180_000_000)
    return geohash_rollup(
        ev.select(lat.alias("lat"), lon.alias("lon")),
        "lat", "lon", precision=4)



@query("attribution_join", oracle="""
SELECT v.user_id, v.event_id AS view_id, b.event_id AS buy_id,
       CAST((epoch_us(b.ts) - epoch_us(v.ts)) // 1000000 AS BIGINT)
         AS lag_s
FROM events v JOIN events b ON b.user_id = v.user_id
  AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 2700 SECONDS
WHERE v.event_type = 'view' AND b.event_type = 'purchase'
""")
def attribution_join_q(spark, sf_dir):
    """Attribution-window interval join (:func:`beats_analytics
    .events.interval_join`): every purchase within 45 minutes AFTER a
    view by the same user, many-to-many — the batch/backfill twin of
    the streaming ``stream_event_join`` (same condition; watermarks
    only bound state, never change pairs). One equi-key exchange per
    side, the time bound evaluated inside the sort-merge join; unlike
    ``asof_enrich`` this keeps ALL in-window pairs, which is why it
    is a real join rather than the linear union+window spelling.
    Lag in whole seconds via integer epoch-microsecond math."""
    from .events import interval_join
    ev = _t(spark, sf_dir, "events")
    views = (ev.filter(F.col("event_type") == "view")
             .select("user_id", "ts",
                     F.col("event_id").alias("view_id")))
    buys = (ev.filter(F.col("event_type") == "purchase")
            .select("user_id", "ts",
                    F.col("event_id").alias("buy_id")))
    j = interval_join(views, buys, "user_id",
                      within_seconds=2700, prefix="b_")
    lag = F.floor(
        (F.unix_micros(F.col("b_ts").cast("timestamp"))
         - F.unix_micros(F.col("ts").cast("timestamp")))
        / F.lit(1_000_000)).cast("long")
    return j.select("user_id", "view_id",
                    F.col("b_buy_id").alias("buy_id"),
                    lag.alias("lag_s"))



@query("blocklist_gate", oracle="""
WITH t AS (
  SELECT doc_id,
         list_sort(list_intersect(list_distinct(list_filter(
           string_split_regex(lower(coalesce(text, '')),
                              '[^a-z0-9'']+'),
           x -> x <> '')), ['dup', 'slow', 'stale'])) AS hit
  FROM documents)
SELECT doc_id,
       CAST(len(hit) AS BIGINT) AS hits,
       coalesce(array_to_string(hit, ','), '') AS hit_terms,
       len(hit) > 1 AS blocked
FROM t
""")
def blocklist_gate_q(spark, sf_dir):
    """C4 word-boundary blocklist gate (:func:`beats_analytics
    .scrub.blocklist_filter`, Raffel et al. 2020 §2.2's badword rule)
    in audit form (``keep_blocked=True``): tokenize once, intersect
    distinct tokens with the literal term array, block past
    ``max_hits=1`` — boundary-safe (never a substring test), zero
    exchanges, zero Python, term list riding the plan as a literal.
    'stale' is deliberately absent from the corpus vocabulary so the
    no-hit path is exercised alongside single- and multi-hit docs."""
    from . import blocklist_filter
    docs = _t(spark, sf_dir, "documents")
    return blocklist_filter(docs, ["dup", "slow", "stale"],
                            max_hits=1, keep_blocked=True)



@query("gazetteer_entities", oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(coalesce(text,
         '')), '[^a-z0-9'']+'), x -> x <> '') AS t FROM documents),
ent(entity, label) AS (VALUES ('table scan', 'scan_op'),
    ('scan', 'unit'), ('hash join', 'join_op'), ('join', 'unit'),
    ('spark', 'engine')),
cand AS (
  SELECT doc_id, 1 AS n, s.i AS pos,
         array_to_string(t[s.i+1:s.i+1], ' ') AS phrase
  FROM toks, LATERAL (SELECT UNNEST(generate_series(0, len(t)-1))
                      AS i) s
  WHERE len(t) >= 1
  UNION ALL
  SELECT doc_id, 2, s.i, array_to_string(t[s.i+1:s.i+2], ' ')
  FROM toks, LATERAL (SELECT UNNEST(generate_series(0, len(t)-2))
                      AS i) s
  WHERE len(t) >= 2
  UNION ALL
  SELECT doc_id, 3, s.i, array_to_string(t[s.i+1:s.i+3], ' ')
  FROM toks, LATERAL (SELECT UNNEST(generate_series(0, len(t)-3))
                      AS i) s
  WHERE len(t) >= 3),
m AS (SELECT c.doc_id, c.pos, e.entity, e.label, c.n
      FROM cand c JOIN ent e ON c.phrase = e.entity),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id, pos
                                   ORDER BY n DESC, label) AS rn
      FROM m)
SELECT doc_id, CAST(pos AS BIGINT) AS pos, entity, label
FROM r WHERE rn = 1
""")
def gazetteer_entities_q(spark, sf_dir):
    """Dictionary NER (:func:`beats_analytics.terms
    .gazetteer_match`): every occurrence of a gazetteer phrase as
    (doc, token position, entity, label), longest-match-wins at the
    same start ('table scan' shadows 'scan' at its own position;
    the inner 'scan' one position later still reports — standard
    dictionary-matcher semantics). Candidate n-grams are built
    map-side with the positional shift-and-zip spelling, ONE
    broadcast hash join against the entity list; the corpus never
    shuffles on text, and the longest-match window runs over matches
    only."""
    from .terms import gazetteer_match
    docs = _t(spark, sf_dir, "documents")
    ents = [("table scan", "scan_op"), ("scan", "unit"),
            ("hash join", "join_op"), ("join", "unit"),
            ("spark", "engine")]
    return gazetteer_match(docs, ents)



_SQL_WEAK_RULES = """
  SELECT doc_id,
         CASE WHEN contains(text, 'slow') THEN 1 ELSE -1 END AS r1,
         CASE WHEN n_chars > 400 THEN 0
              WHEN n_chars > 200 THEN 1 ELSE -1 END AS r2,
         CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 0
              ELSE -1 END AS r3
  FROM documents
"""



def _weak_rule_docs(docs):
    return docs.select(
        "doc_id",
        F.when(F.col("text").contains("slow"), 1).otherwise(-1)
         .cast("int").alias("r1"),
        F.when(F.col("n_chars") > 400, 0)
         .when(F.col("n_chars") > 200, 1).otherwise(-1)
         .cast("int").alias("r2"),
        F.when(F.col("lang") == "en", 1)
         .when(F.col("lang") == "de", 0).otherwise(-1)
         .cast("int").alias("r3"))



@query("weak_labels", oracle=f"""
WITH rules AS ({_SQL_WEAK_RULES}),
v AS (
  SELECT doc_id,
         (CASE WHEN r1 = 0 THEN 1 ELSE 0 END
          + CASE WHEN r2 = 0 THEN 1 ELSE 0 END
          + CASE WHEN r3 = 0 THEN 1 ELSE 0 END) AS v0,
         (CASE WHEN r1 = 1 THEN 1 ELSE 0 END
          + CASE WHEN r2 = 1 THEN 1 ELSE 0 END
          + CASE WHEN r3 = 1 THEN 1 ELSE 0 END) AS v1
  FROM rules)
SELECT doc_id,
       CAST(v0 + v1 AS BIGINT) AS n_votes,
       CASE WHEN v1 > v0 THEN 1 WHEN v0 > v1 THEN 0 END AS label,
       CAST(CASE WHEN v0 + v1 > 0 THEN abs(v1 - v0) ELSE 0 END
            AS BIGINT) AS margin,
       CASE WHEN v0 + v1 > 0
            THEN CAST(greatest(v0, v1) * 1000000 // (v0 + v1)
                      AS BIGINT) END AS confidence_micro
FROM v
""")
def weak_labels_q(spark, sf_dir):
    """Snorkel-style weak-supervision majority vote (:func:`beats_analytics
    .labeling.weak_label_vote`) over three deterministic
    labeling functions (keyword, length band, language); ties and
    all-abstain rows come back NULL (a tie is a disagreement, not a
    coin flip), margin and confidence as exact integer micro-units.
    Pure zero-exchange projection — the oracle hand-rolls the
    two-label case the generic spelling must agree with."""
    from .labeling import weak_label_vote
    docs = _t(spark, sf_dir, "documents")
    out = weak_label_vote(_weak_rule_docs(docs), ["r1", "r2", "r3"])
    return out.select("doc_id", "n_votes", "label", "margin",
                      "confidence_micro")



@query("lf_analysis", oracle=f"""
WITH rules AS ({_SQL_WEAK_RULES}),
s AS (
  SELECT count(*) AS n,
    sum(CASE WHEN r1 <> -1 THEN 1 ELSE 0 END) AS c1,
    sum(CASE WHEN r1 <> -1 AND (r2 <> -1 OR r3 <> -1)
             THEN 1 ELSE 0 END) AS o1,
    sum(CASE WHEN r1 <> -1 AND ((r2 <> -1 AND r2 <> r1)
                                OR (r3 <> -1 AND r3 <> r1))
             THEN 1 ELSE 0 END) AS x1,
    sum(CASE WHEN r2 <> -1 THEN 1 ELSE 0 END) AS c2,
    sum(CASE WHEN r2 <> -1 AND (r1 <> -1 OR r3 <> -1)
             THEN 1 ELSE 0 END) AS o2,
    sum(CASE WHEN r2 <> -1 AND ((r1 <> -1 AND r1 <> r2)
                                OR (r3 <> -1 AND r3 <> r2))
             THEN 1 ELSE 0 END) AS x2,
    sum(CASE WHEN r3 <> -1 THEN 1 ELSE 0 END) AS c3,
    sum(CASE WHEN r3 <> -1 AND (r1 <> -1 OR r2 <> -1)
             THEN 1 ELSE 0 END) AS o3,
    sum(CASE WHEN r3 <> -1 AND ((r1 <> -1 AND r1 <> r3)
                                OR (r2 <> -1 AND r2 <> r3))
             THEN 1 ELSE 0 END) AS x3
  FROM rules),
u AS (
  SELECT 'r1' AS "rule", n, c1 AS coverage, o1 AS "overlaps",
         x1 AS conflicts FROM s
  UNION ALL SELECT 'r2', n, c2, o2, x2 FROM s
  UNION ALL SELECT 'r3', n, c3, o3, x3 FROM s)
SELECT "rule", CAST(n AS BIGINT) AS n_rows,
       CAST(coverage AS BIGINT) AS coverage,
       CAST("overlaps" AS BIGINT) AS "overlaps",
       CAST(conflicts AS BIGINT) AS conflicts,
       CAST(coverage * 1000000 // n AS BIGINT) AS coverage_micro,
       CAST("overlaps" * 1000000 // n AS BIGINT) AS overlap_micro,
       CAST(conflicts * 1000000 // n AS BIGINT) AS conflict_micro
FROM u
""")
def lf_analysis_q(spark, sf_dir):
    """The Snorkel LF-analysis table (:func:`beats_analytics
    .labeling.lf_summary`): per labeling function, how often it
    votes (coverage), votes alongside another rule (overlap), and
    votes against one (conflict) — the table that decides which
    rules survive into the label model. ONE global partial-combining
    aggregate; the per-rule unpivot runs on the single aggregated
    row, and the micro fractions are exact integer `div`s."""
    from .labeling import lf_summary
    docs = _t(spark, sf_dir, "documents")
    return lf_summary(_weak_rule_docs(docs), ["r1", "r2", "r3"])



@query("filter_sweep", oracle="""
WITH s AS (SELECT count(*) AS n,
                  sum(coalesce(n_chars, 0)) AS wn FROM documents),
t(threshold) AS (VALUES (100), (200), (400), (800)),
r AS (
  SELECT t.threshold,
         sum(CASE WHEN d.n_chars IS NOT NULL
                   AND d.n_chars >= t.threshold
                  THEN 1 ELSE 0 END) AS docs_retained,
         sum(CASE WHEN d.n_chars IS NOT NULL
                   AND d.n_chars >= t.threshold
                  THEN coalesce(d.n_chars, 0) ELSE 0 END)
           AS weight_retained
  FROM t, documents d GROUP BY t.threshold)
SELECT CAST(r.threshold AS BIGINT) AS threshold,
       CAST(docs_retained AS BIGINT) AS docs_retained,
       CAST(weight_retained AS BIGINT) AS weight_retained,
       CAST(CASE WHEN s.n > 0
                 THEN docs_retained * 1000000 // s.n
                 ELSE 0 END AS BIGINT) AS docs_micro,
       CAST(CASE WHEN s.wn > 0
                 THEN weight_retained * 1000000 // s.wn
                 ELSE 0 END AS BIGINT) AS weight_micro
FROM r, s
""")
def filter_sweep_q(spark, sf_dir):
    """Quality-filter retention curve (:func:`beats_analytics
    .sample.filter_sweep`): docs and chars surviving each candidate
    ``n_chars >= t`` cutoff, with exact integer micro fractions —
    the ablation table read before freezing a filter threshold.
    ONE partial-combining scan computes every threshold at once
    (2·|T|+2 longs per map task cross the exchange); a per-threshold
    filter-count loop would scan the corpus |T| times."""
    from .sample import filter_sweep
    docs = _t(spark, sf_dir, "documents")
    return filter_sweep(docs, "n_chars", [100, 200, 400, 800],
                        weight_col="n_chars")
