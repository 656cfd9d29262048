"""URL canonicalization and URL-level deduplication for web-crawl
curation.

Common-Crawl-style corpora key pages by URL (the north_star input has
``url`` as the row identity), but raw crawl URLs are noisy: tracking
query parameters (``utm_*``, click ids), fragments, default ports,
mixed-case schemes/hosts, and unstable query-parameter order all make
the SAME page appear under many spellings. Canonicalizing before
URL-level dedup is the cheapest dedup stage in a crawl pipeline — it
needs no content comparison at all.

Everything here is pure Column expressions (regexp/string/array
builtins, whole-stage codegen, zero Python, no shuffle for the
canonicalization itself; one hash shuffle for the dedup window).
The steps are deliberately regex-expressible so an external SQL
engine reproduces them bit-for-bit (the oracle-parity requirement).

Scale: :func:`canonical_url` is map-side only. :func:`url_dedup`
shuffles on the canonical URL — a key with practically no skew (the
whole point of canonicalizing is that each key names one page), and
the window streams each group, so even a pathological hot URL costs a
partition scan, not executor memory.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["canonical_url", "url_dedup", "url_path_rollup", "TRACKING_PARAMS",
           "DEFAULT_URL_LANGS", "lang_url_skeleton", "lang_url_pairs",
           "url_template", "crawl_traps"]

# Query parameters that identify a CLICK, not a page: stripping them
# is standard crawl practice (they are what makes one page spell as
# thousands of URLs). Matched as whole parameter names, with or
# without a value.
TRACKING_PARAMS: Sequence[str] = (
    "utm_[A-Za-z0-9_]*", "gclid", "fbclid", "msclkid", "mc_eid",
    "igshid", "ref_src", "spm", "yclid",
)


def _tracking_re() -> str:
    alts = "|".join(TRACKING_PARAMS)
    return rf"^({alts})(=.*)?$"


def canonical_url(url: Column, strip_www: bool = False) -> Column:
    """Canonical form of an absolute http(s) URL, entirely JVM-side:

    1. trim; drop the fragment (``#...`` — never sent to the server);
    2. lowercase the scheme and the host (RFC 3986 §6.2.2.1 — both
       are case-insensitive; the path is NOT touched);
    3. drop the default port (``:80`` for http, ``:443`` for https);
    4. optionally drop a leading ``www.`` (site-policy dependent, so
       opt-in via ``strip_www``);
    5. empty path becomes ``/`` (``http://h`` ≡ ``http://h/``,
       RFC 3986 §6.2.3);
    6. split the query on ``&``, drop tracking parameters
       (:data:`TRACKING_PARAMS`) and empty pairs, sort the survivors
       bytewise, re-join; an emptied query loses its ``?``.

    A value with no recognizable ``scheme://`` prefix passes through
    trimmed-and-defragmented only — canonicalization must never
    invent structure for relative or garbage input.
    """
    u = F.regexp_replace(F.trim(url), r"#[\s\S]*", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([\s\S]*)$", 1)

    # userinfo (anything up to the last '@') is CASE-SENSITIVE per
    # RFC 3986 — only the host:port after it case-folds, and only the
    # host:port is eligible for default-port stripping (a password
    # ending in ':80' must survive)
    userinfo = F.regexp_extract(authority, r"^([\s\S]*@)", 1)
    hostport = F.lower(F.regexp_extract(authority, r"([^@]*)$", 1))

    host = (F.when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
             .when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
             .otherwise(hostport))
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    host = F.concat(userinfo, host)

    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?([\s\S]*)$", 1)

    keep = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(_tracking_re())))
    qpart = F.when(F.size(keep) > 0,
                   F.concat(F.lit("?"), F.concat_ws("&", keep))) \
             .otherwise(F.lit(""))

    return F.when(scheme == "",
                  u).otherwise(F.concat(scheme, F.lit("://"), host,
                                        path, qpart))


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    order_by: Optional[Sequence[Column]] = None,
    canon_col: str = "canonical_url",
    strip_www: bool = False,
) -> DataFrame:
    """Keep ONE row per canonical URL, deterministically.

    ``order_by`` ranks candidates within a canonical-URL group (e.g.
    ``[F.col("quality").desc(), F.col("warc_ts").desc(), F.col("url")]``
    — best quality, newest capture, spelling tie-break); default is
    the raw URL ascending, which is stable and total as long as raw
    URLs are distinct. The canonical form is kept as ``canon_col`` on
    the survivors (downstream stages key on it).

    One shuffle (hash on the canonical URL); the row_number window
    streams each group (it IS :func:`beats_analytics.sample
    .cap_per_key` with k=1).

    NULL URLs fail the job loudly (the same guard as the samplers):
    they would all share one NULL canonical key and silently collapse
    to a single arbitrary survivor. Empty-string URLs are one
    legitimate (garbage) group and pass through.
    """
    from .sample import cap_per_key
    key = F.col(url_col)
    guard = F.assert_true(
        key.isNotNull(),
        F.lit(f"url_dedup: null {url_col} (filter nulls first — they "
              "would collapse into one arbitrary survivor)"))
    out = df.withColumn(
        canon_col,
        F.when(guard.isNull(),
               canonical_url(key, strip_www=strip_www)))
    order = list(order_by) if order_by else [F.col(url_col).asc()]
    return cap_per_key(out, canon_col, 1, order_by=order)


def url_template(url: Column) -> Column:
    """Structural template of a URL's path+query: long hex runs (>= 16
    chars — session ids, content hashes, UUID halves) collapse to
    ``H``, then digit runs collapse to ``N``. ``/cal/2024/07/03/e91``
    and ``/cal/2019/01/28/e7`` both template to ``/cal/N/N/N/eN``.

    Hex BEFORE digits — the digit pass would otherwise split a hex
    run at its letter boundaries and leave per-value residue. Both
    passes are global replaces of a plain character-class regex
    (identical semantics in Java regex and RE2/DuckDB, the module's
    oracle-exactness rule). Pure codegen projection.
    """
    pq = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    t = F.regexp_replace(pq, "[0-9a-f]{16,}", "H")
    return F.regexp_replace(t, "[0-9]+", "N")


def crawl_traps(
    df: DataFrame,
    url_col: str = "url",
    min_ratio: int = 100,
) -> DataFrame:
    """Crawl-trap detection: hosts whose distinct-URL count explodes
    relative to their distinct structural templates
    (:func:`url_template`) — calendar traps, session-id params,
    faceted-search grids, print-view mirrors. A trapped host yields
    unbounded URLs from a handful of page shapes; fetching it drains
    the crawl budget on one site. Per host:
    ``(host, n_urls, n_templates, urls_per_template_micro, trap)``
    with the ratio in integer micro-units and ``trap`` true when
    urls-per-template >= ``min_ratio``.

    This is the frontier-side complement of content-side mirror/
    template detection (``dom_templates`` needs fetched HTML; this
    fires BEFORE fetching, from the URL list alone) — the two-signal
    combination is standard crawler practice (Heritrix's
    PathologicalPathDecideRule is the reference-world analog).

    Scale shape: one groupBy on host with two distinct counts —
    Spark plans a single Expand (×2) into one shuffle whose rows are
    (host, url) / (host, template) pairs, bounded at 2× the input
    and pruned to the two string columns; no self-join, no window.
    Hot hosts (the traps themselves!) are exactly the skewed keys —
    distinct-aggregate partials combine map-side, so a 10^9-URL trap
    host costs its scan, not an executor's memory.
    """
    host = F.lower(F.regexp_extract(
        F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    base = df.select(host.alias("host"),
                     F.col(url_col).alias("__u"),
                     url_template(F.col(url_col)).alias("__t"))
    agg = base.groupBy("host").agg(
        F.countDistinct("__u").alias("n_urls"),
        F.countDistinct("__t").alias("n_templates"))
    ratio = F.floor(F.col("n_urls") * F.lit(1_000_000)
                    / F.col("n_templates")).cast("long")
    return agg.select(
        "host", "n_urls", "n_templates",
        ratio.alias("urls_per_template_micro"),
        (ratio >= min_ratio * 1_000_000).alias("trap"))


DEFAULT_URL_LANGS = ("ar", "de", "en", "es", "fr", "it", "ja", "ko",
                     "nl", "pl", "pt", "ru", "tr", "zh")


def lang_url_skeleton(
    url: Column,
    langs: "tuple[str, ...]" = DEFAULT_URL_LANGS,
) -> Column:
    """Language-agnostic URL skeleton — the CCAligned/WikiMatrix
    web-scale prefilter for parallel-corpus mining (El-Kishky et al.,
    EMNLP'20): multilingual sites publish translations at URLs that
    differ only in a language marker, so stripping the marker yields
    a key that aligns translation candidates without touching text.

    Lowercases, then wildcards (a) a leading language subdomain
    (``https://fr.example.com/`` → ``https://*.example.com/``) and
    (b) language path segments incl. hyphenated locales
    (``/en/``, ``/pt-br/`` → ``/*/``). Both rewrites are single-pass
    left-to-right regexp replaces with alternation + a ``(/|$)``
    boundary group — no lookahead, so the semantics are identical in
    Java regex and RE2 and the skeleton is oracle-exact. Pure codegen
    projection.
    """
    alt = "|".join(langs)
    s = F.lower(url)
    s = F.regexp_replace(
        s, f"^(https?://)(?:{alt})(?:-[a-z]{{2}})?\\.", "$1*.")
    return F.regexp_replace(
        s, f"/(?:{alt})(?:-[a-z]{{2}})?(/|$)", "/*$1")


def lang_url_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    lang_col: str = "lang",
    langs: "tuple[str, ...]" = DEFAULT_URL_LANGS,
) -> DataFrame:
    """Bitext candidate pairs by URL alignment → one row per
    cross-language pair sharing a :func:`lang_url_skeleton`:
    ``(skeleton, lang_a, id_a, lang_b, id_b)`` with
    ``lang_a < lang_b``.

    Scale shape: one rep per (skeleton, lang) — ``min(id)``, a
    partial-combining agg — BEFORE the self-join, so a skeleton's
    fan-out is bounded by |langs|² no matter how many pages share it
    (the hot-template guard); exchanges carry (skeleton, lang, id)
    triples, never text. Downstream, feed the pairs to
    :func:`~beats_analytics.similarity.bitext_margin` for
    embedding-margin verification — URL alignment proposes,
    similarity disposes.
    """
    base = df.select(
        F.col(id_col), F.col(lang_col),
        lang_url_skeleton(F.col(url_col), langs).alias("skeleton"))
    reps = (base.groupBy("skeleton", lang_col)
            .agg(F.min(id_col).alias("__rep")))
    a = reps.select("skeleton",
                    F.col(lang_col).alias("lang_a"),
                    F.col("__rep").alias("id_a"))
    b = reps.select("skeleton",
                    F.col(lang_col).alias("lang_b"),
                    F.col("__rep").alias("id_b"))
    return (a.join(b, "skeleton")
            .filter(F.col("lang_a") < F.col("lang_b"))
            .select("skeleton", "lang_a", "id_a", "lang_b", "id_b"))


def url_path_rollup(
    df: DataFrame,
    url_col: str = "url",
    max_depth: int = 3,
) -> DataFrame:
    """Hierarchical path-prefix census: for every URL, emit its host
    and each path prefix up to ``max_depth`` segments, then count
    pages per ``(host, depth, prefix)`` — which subtrees of a site
    dominate the crawl, the drill-down view a frontier budget or a
    trap investigation starts from (the flat-template cousin is
    :func:`crawl_traps`). Root-only URLs (no path segments) emit
    nothing; duplicate URLs count once per occurrence.

    Output: ``(host, depth, prefix, n_pages)`` with ``prefix`` like
    ``/cal/2024``.

    Plan: pure codegen — regex host/path split, split+filter on
    ``/``, a bounded 1→``max_depth`` explode (sequence guarded
    against the empty-parts case because Spark's ``sequence(1, 0)``
    DESCENDS rather than being empty), one partial-combining groupBy.
    Fan-out is ≤ max_depth rows per page, fixed up front; nothing
    wider than (host, prefix) crosses the exchange.
    """
    if max_depth < 1:
        raise ValueError(f"url_path_rollup: max_depth must be >= 1, "
                         f"got {max_depth}")
    u = F.col(url_col)
    host = F.lower(F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    path = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    parts = F.filter(F.split(path, "/"), lambda x: x != "")
    depths = F.when(
        F.size(parts) > 0,
        F.sequence(F.lit(1), F.least(F.size(parts),
                                     F.lit(int(max_depth)))))\
        .otherwise(F.array().cast("array<int>"))
    base = (df.select(host.alias("host"), parts.alias("__p"),
                      F.explode(depths).alias("depth"))
            .select("host", "depth",
                    F.concat(F.lit("/"),
                             F.array_join(F.slice("__p", 1,
                                                  F.col("depth")),
                                          "/")).alias("prefix")))
    return (base.groupBy("host", "depth", "prefix")
            .agg(F.count(F.lit(1)).alias("n_pages")))


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the
    web-archive world's canonical URL spelling, used by Common
    Crawl's CDX index and every wayback-style prefix query:
    ``http://www.example.com/path?b=2&a=1`` →
    ``com,example)/path?a=1&b=2``. Rules per the public SURT spec as
    the CC index applies it: scheme and a leading ``www.`` (any
    ``www\\d*.``) drop, the host reverses on dots and joins with
    commas, ``)`` separates host from path, the path lowercases,
    query parameters sort bytewise and a trailing ``?`` drops, the
    default-port suffix drops, a bare host keys as ``host)/``.

    Pure codegen (split + array ops + transform/sort); NULL or
    schemeless-garbage input yields NULL. The companion of
    :func:`canonical_url` for archive workflows — canonical_url
    dedupes live-crawl URLs, surt_key addresses the ARCHIVE index."""
    u = F.lower(F.trim(url))
    no_scheme = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    rest = F.when(no_scheme != u, no_scheme)   # require a scheme
    # the FULL authority fixes the path offset; userinfo then drops
    # from the host side only (SURT keys carry no credentials).
    # Greedy to the LAST '@' — WHATWG treats everything before it as
    # userinfo, and '/?#' cannot appear inside the extracted
    # authority, so '.*@' is safe
    authority = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    hostport = F.regexp_replace(authority, r"^.*@", "")
    path_q = F.substring(rest, F.length(authority) + 1, 1 << 20)
    hostport_nd = F.regexp_replace(
        F.regexp_replace(hostport, r":(80|443)$", ""),
        r"^www\d*\.", "")
    # a non-default port survives AFTER the reversed host
    # (com,example:8080)/...), so split it off before reversing
    host = F.regexp_replace(hostport_nd, r":\d+$", "")
    port = F.regexp_extract(hostport_nd, r"(:\d+)$", 1)
    rev_host = F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","), port)
    path = F.regexp_extract(path_q, r"^([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(path_q, r"\?([^#]*)", 1)
    sorted_q = F.array_join(
        F.array_sort(F.split(query, "&")), "&")
    with_q = F.when((query != "") & (sorted_q != ""),
                    F.concat(path, F.lit("?"), sorted_q)) \
        .otherwise(path)
    return F.when(host != "",
                  F.concat(rev_host, F.lit(")"), with_q))


def cdx_parse(df: DataFrame, line_col: str = "line") -> DataFrame:
    """Parse CDX-JSON index lines — the Common Crawl / wayback index
    format: ``<urlkey> <timestamp14> <json>`` where the JSON block
    carries url, mime, status, content digest, WARC filename/offset/
    length. Output columns: ``(urlkey, capture_ts, url, mime, status,
    digest, warc_filename, warc_offset, warc_length)`` — timestamps
    parse from the 14-digit ``yyyyMMddHHmmss`` spelling; malformed
    lines yield NULL fields (untrusted input, the
    ``decode_json_fields`` contract). Pure codegen: two splits + one
    ``from_json``; the schema prunes to exactly the consumed keys so
    Jackson skips the rest."""
    l = F.col(line_col)
    urlkey = F.regexp_extract(l, r"^(\S+) ", 1)
    ts14 = F.regexp_extract(l, r"^\S+ (\d{14}) ", 1)
    js = F.regexp_extract(l, r"^\S+ \d{14} (\{.*\})\s*$", 1)
    obj = F.from_json(js, "struct<url: string, mime: string, "
                          "status: string, digest: string, "
                          "filename: string, offset: string, "
                          "length: string>")
    ok = (urlkey != "") & (ts14 != "") & (js != "")
    return df.select(
        "*",
        F.when(ok, urlkey).alias("urlkey"),
        F.to_timestamp(F.when(ok, ts14),
                       "yyyyMMddHHmmss").alias("capture_ts"),
        obj.getField("url").alias("url"),
        obj.getField("mime").alias("mime"),
        obj.getField("status").try_cast("int").alias("status"),
        obj.getField("digest").alias("digest"),
        obj.getField("filename").alias("warc_filename"),
        obj.getField("offset").try_cast("long").alias("warc_offset"),
        obj.getField("length").try_cast("long").alias("warc_length"))


def cdx_latest(parsed: DataFrame,
               statuses: "Sequence[int] | None" = (200,)) -> DataFrame:
    """Latest successful capture per urlkey — the dedupe every
    CDX-driven fetch plan starts with (fetch each page once, at its
    freshest 200). Keep decision ships only (urlkey, ts) through the
    exchange; rows come back via the max-timestamp semi-join, the
    dedup_exact discipline (ties on capture_ts keep every tied row —
    distinct WARC offsets of one instant are distinct captures;
    callers needing one add a digest tiebreak)."""
    base = parsed
    if statuses is not None:
        base = base.filter(F.col("status").isin(*statuses))
    latest = (base.groupBy("urlkey")
              .agg(F.max("capture_ts").alias("capture_ts")))
    return base.join(latest, ["urlkey", "capture_ts"], "left_semi")
