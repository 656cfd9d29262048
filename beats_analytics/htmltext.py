"""HTML → text extraction for web-crawl corpora, as a pure
regexp_replace chain.

The north-star input table carries raw page bytes (``html: binary``)
next to extracted ``text``; producing the latter from the former is
the first step of every webtext pipeline. A full DOM parse does not
belong in the hot path of a 10^12-page job (and no HTML lib ships in
the engine's dependency set); the standard scalable alternative is a
deterministic strip chain — comments, script/style subtrees, tags
(block-level close tags become newlines first, so paragraph structure
survives), a small entity table, whitespace collapse.

Every step is a (pattern, replacement) pair from one shared table
(:data:`HTML_STRIP_STEPS`), applied in order, patterns written in the
RE2 ∩ java.util.regex common subset (whitespace via the explicit
class [ \\t\\n\\x0B\\f\\r] — Java's \\s includes \\x0B, RE2's does
not; [\\s\\S] stays, since class-plus-complement is any-char in both) — the same cross-engine
discipline as the PII table in :mod:`beats_analytics.scrub` — so
an external SQL engine replays the identical chain bit-for-bit
(:func:`html_strip_sql` emits it for DuckDB).

Scale: map-side only, zero shuffle, zero Python; whole-stage codegen
keeps the chain in one generated function. The binary→string decode
is ``decode(html, 'UTF-8')`` — charset detection for real crawls
belongs to the reader stack's charset table
(``beats_spark.functions.encoding``).
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BinaryType

__all__ = ["CELL_STRIP_STEPS", "HTML_STRIP_STEPS",
           "dom_fingerprint", "dom_fingerprint_sql",
           "extract_hreflang", "extract_links",
           "extract_meta", "extract_tables", "html_to_text", "extract_text",
           "cell_strip_sql", "html_strip_sql", "link_host"]

# Ordered (pattern, replacement). '\n' replacements are emitted as
# chr(10) on the SQL side. Patterns: no backreferences, no lookaround,
# lazy quantifiers and inline (?i)/(?s) flags only — RE2 and Java
# agree on all of these.
HTML_STRIP_STEPS: Sequence[Tuple[str, str]] = (
    # comments and non-content subtrees first (their text is not text)
    (r"<!--[\s\S]*?-->", ""),
    (r"(?i)<script\b[^>]*>[\s\S]*?</script[ \t\n\x0B\f\r]*>", ""),
    (r"(?i)<style\b[^>]*>[\s\S]*?</style[ \t\n\x0B\f\r]*>", ""),
    # block-structure tags become newlines so paragraphs survive
    (r"(?i)<(?:br|hr)[ \t\n\x0B\f\r]*/?>", "\n"),
    (r"(?i)</(?:p|div|h[1-6]|li|tr|table|ul|ol|blockquote|section|"
     r"article|header|footer)[ \t\n\x0B\f\r]*>", "\n"),
    # every remaining tag vanishes
    (r"<[^>]*>", ""),
    # minimal entity table; &amp; strictly last
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    # whitespace discipline: spaces collapse, newlines trim their
    # surrounding spaces, 3+ newlines fold to a paragraph break
    (r"[ \t\r]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n{3,}", "\n\n"),
    (r"^[ \t\n\x0B\f\r]+", ""),
    (r"[ \t\n\x0B\f\r]+$", ""),
)


def html_to_text(html: Column) -> Column:
    """Extracted text of an HTML STRING column via the shared strip
    chain. NULL in, NULL out."""
    out = html
    for pat, rep in HTML_STRIP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def extract_text(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text",
    charset: str = "UTF-8",
) -> DataFrame:
    """DataFrame form: decode ``html_col`` (binary columns are decoded
    with ``charset`` first) and append ``out_col`` with the extracted
    text."""
    col = F.col(html_col)
    if isinstance(df.schema[html_col].dataType, BinaryType):
        col = F.decode(col, charset)
    return df.withColumn(out_col, html_to_text(col))


#: one tag-name occurrence: optional whitespace after ``<`` (explicit
#: class — RE2/Java \s disagree on \x0B), closing slash kept so
#: ``<div>..</div>`` and ``<div>..<div>`` fingerprint differently.
_TAG_NAME_RE = r"<[ \t\n\x0B\f\r]*(/?[A-Za-z][A-Za-z0-9]*)"


def dom_fingerprint(html: Column) -> Column:
    """Structural template fingerprint of a page: md5 of the page's
    normalized tag sequence — tag names lowercased in document order
    (closing tags keep their slash), attributes and text dropped.

    Pages generated from the same template hash identically however
    their content, attribute values, or attribute ORDER differ — the
    boilerplate/template-cluster detector of web curation (listing
    pages, tag archives, calendar spam), complementing content dedup:
    MinHash misses template twins because their TEXT differs; this
    misses content twins because only structure is hashed. Tags inside
    comments/scripts count as structure (a deliberate simplification —
    both engines see the same bytes, so the fingerprint stays
    deterministic). NULL in, NULL out; a page with no tags hashes the
    empty string.

    Scale: pure codegen projection (regexp_extract_all → lower →
    md5), zero shuffle/Python; downstream grouping ships 32-byte
    hashes, never the page."""
    tags = F.regexp_extract_all(html, F.lit(_TAG_NAME_RE), 1)
    return F.md5(F.array_join(F.transform(tags, F.lower), ">"))


def dom_fingerprint_sql(expr: str) -> str:
    """The identical fingerprint as a DuckDB expression over ``expr``
    (list_transform + lower replays Spark's transform(…, lower)).
    DuckDB's ``array_to_string([], sep)`` yields NULL where Spark's
    ``array_join`` yields '' — the coalesce restores the tag-less
    page hash; the CASE keeps NULL-in-NULL-out."""
    return (f"md5(CASE WHEN {expr} IS NULL THEN NULL ELSE "
            "coalesce(array_to_string(list_transform("
            f"regexp_extract_all({expr}, {_sql_quote(_TAG_NAME_RE)}, 1), "
            "x -> lower(x)), '>'), '') END)")


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def html_strip_sql(expr: str) -> str:
    """The identical strip chain as a nested DuckDB expression over
    ``expr`` — regexp_replace with the 'g' (and 's' where the pattern
    uses (?s) semantics via [\\s\\S]) flags; newline replacements are
    chr(10)."""
    out = expr
    for pat, rep in HTML_STRIP_STEPS:
        r = "chr(10)" if rep == "\n" else _sql_quote(rep)
        out = f"regexp_replace({out}, {_sql_quote(pat)}, {r}, 'g')"
    return out


#: the anchor-tag pattern (RE2 ∩ Java subset: inline (?is) flags, lazy
#: quantifier, no lookaround): group 1 = href value, group 2 = inner
#: markup. Double-quoted hrefs only — the overwhelmingly dominant
#: form; unquoted/single-quoted tails are a strip-chain concern, not a
#: graph concern.
_ANCHOR_RE = r'(?is)<a\s[^>]*href\s*=\s*"([^"]*)"[^>]*>(.*?)</a>'


def link_host(href: Column, base_host: Optional[Column] = None) -> Column:
    """Destination host of one href: absolute http(s) URLs yield their
    authority (lowercased); protocol-relative ``//host/...`` likewise;
    RELATIVE references (path/query/fragment) resolve to ``base_host``
    (NULL when not given); non-hierarchical scheme hrefs —
    ``mailto:``, ``javascript:``, ``tel:``, ``data:``, and every other
    non-http(s) scheme, all common in real HTML — yield NULL, not
    ``base_host``: treating them as self-links would fabricate a
    phantom edge per contact-link per page and skew PageRank/domain
    rollups built on the extraction."""
    absolute = F.regexp_extract(href, r"(?i)^https?://([^/?#]*)", 1)
    proto_rel = F.regexp_extract(href, r"^//([^/?#]*)", 1)
    has_scheme = href.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")
    base = base_host if base_host is not None else F.lit(None).cast("string")
    return F.lower(F.when(absolute != "", absolute)
                   .when(proto_rel != "", proto_rel)
                   .when(has_scheme, F.lit(None).cast("string"))
                   .otherwise(base))


def extract_links(
    html: Column,
    base_host: Optional[Column] = None,
) -> Column:
    """``array<struct<href, anchor, host>>`` of the page's anchor
    tags: raw href, tag-stripped/whitespace-collapsed anchor text (the
    classic relevance signal — anchor text describes the TARGET, so
    web search and link-graph corpora aggregate it per destination),
    and the destination host per :func:`link_host`.

    Pure codegen (regexp_extract_all → per-match group extraction in a
    transform) — zero shuffle, zero Python; the 10^12-page outlink
    scan is a map-only job whose shuffle cost is only whatever
    aggregation the caller puts on top (host-edge counts, anchor
    rollups). Same RE2 ∩ Java pattern discipline as the strip chain,
    so a SQL oracle replays extraction exactly."""
    matches = F.regexp_extract_all(html, F.lit(_ANCHOR_RE), 0)

    def one(m: Column) -> Column:
        href = F.regexp_extract(m, _ANCHOR_RE, 1)
        anchor = F.trim(F.regexp_replace(
            F.regexp_replace(F.regexp_extract(m, _ANCHOR_RE, 2),
                             r"<[^>]*>", " "),
            r"[ \t\n\x0B\f\r]+", " "))
        return F.struct(href.alias("href"), anchor.alias("anchor"),
                        link_host(href, base_host).alias("host"))

    return F.transform(matches, one)


# ---------------------------------------------------------------- tables

#: RE2 ∩ Java patterns (inline (?is), lazy quantifiers, no
#: lookaround) — group 1 is the element's inner markup. Nested tables
#: are out of scope (the lazy match closes at the FIRST </table>,
#: deterministically in both engines); real-world data tables are
#: overwhelmingly flat, and a DOM parser doesn't belong in a
#: 10^12-page map stage (see module docstring).
_TABLE_RE = r"(?is)<table\b[^>]*>(.*?)</table[ \t\n\x0B\f\r]*>"
_TR_RE = r"(?is)<tr\b[^>]*>(.*?)</tr[ \t\n\x0B\f\r]*>"
_CELL_RE = r"(?is)<t[dh]\b[^>]*>(.*?)</t[dh][ \t\n\x0B\f\r]*>"
_TH_RE = r"(?is)^<th"

#: per-cell cleanup: inner tags become spaces (a <br> inside a cell is
#: a soft break, not a glue point), the entity table, whitespace
#: collapse; the caller trims. Same cross-engine pattern discipline
#: as HTML_STRIP_STEPS.
CELL_STRIP_STEPS: Sequence[Tuple[str, str]] = (
    (r"<[^>]*>", " "),
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", "\""),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    (r"[ \t\n\x0B\f\r]+", " "),
)


def _cell_text(c: Column) -> Column:
    out = c
    for pat, rep in CELL_STRIP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def cell_strip_sql(expr: str) -> str:
    """The identical per-cell cleanup as a nested DuckDB expression
    (trim included)."""
    out = expr
    for pat, rep in CELL_STRIP_STEPS:
        out = f"regexp_replace({out}, {_sql_quote(pat)}, {_sql_quote(rep)}, 'g')"
    return f"trim({out})"


def extract_tables(html: Column) -> Column:
    """``array<struct<table_idx, row_idx, col_idx, header, cell>>`` of
    every ``<td>``/``<th>`` cell in the page's (non-nested) tables —
    the structured-data half of HTML extraction: web tables feed
    QA/tabular corpora and fact extraction, and a text-only strip
    chain loses their grid structure.

    Indices are 0-based in document order; ``header`` marks ``<th>``
    cells; cell text is tag-stripped/entity-decoded/collapsed via
    :data:`CELL_STRIP_STEPS`. Pure codegen — three nested
    regexp_extract_all + index-aware transforms, flattened; zero
    shuffle, zero Python. The caller explodes (rows multiply
    map-side) or aggregates in place.
    """
    tables = F.regexp_extract_all(html, F.lit(_TABLE_RE), 1)

    def per_table(tbl: Column, ti: Column) -> Column:
        rows = F.regexp_extract_all(tbl, F.lit(_TR_RE), 1)

        def per_row(row: Column, ri: Column) -> Column:
            cells = F.regexp_extract_all(row, F.lit(_CELL_RE), 0)

            def per_cell(c: Column, ci: Column) -> Column:
                return F.struct(
                    ti.cast("long").alias("table_idx"),
                    ri.cast("long").alias("row_idx"),
                    ci.cast("long").alias("col_idx"),
                    c.rlike(_TH_RE).alias("header"),
                    _cell_text(F.regexp_extract(c, _CELL_RE, 1))
                    .alias("cell"))

            return F.transform(cells, per_cell)

        return F.flatten(F.transform(rows, per_row))

    return F.flatten(F.transform(tables, per_table))


# ------------------------------------------------------------- head meta

#: RE2 ∩ Java subset. Attribute-order-robust forms are spelled as two
#: alternates (name-then-content and content-then-name) because
#: neither engine has lookaround; double-quoted values (the dominant
#: form, same scope decision as _ANCHOR_RE's href).
_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title[ \t\n\x0B\f\r]*>"
_CANON_RE = (r'(?is)<link\s[^>]*rel\s*=\s*"canonical"[^>]*'
             r'href\s*=\s*"([^"]*)"')
_CANON_RE2 = (r'(?is)<link\s[^>]*href\s*=\s*"([^"]*)"[^>]*'
              r'rel\s*=\s*"canonical"')


def _meta_content(name: str) -> Tuple[str, str]:
    n = name.replace(":", r":")
    return (
        rf'(?is)<meta\s[^>]*(?:name|property)\s*=\s*"{n}"[^>]*'
        rf'content\s*=\s*"([^"]*)"',
        rf'(?is)<meta\s[^>]*content\s*=\s*"([^"]*)"[^>]*'
        rf'(?:name|property)\s*=\s*"{n}"')


def extract_meta(df: DataFrame, html_col: str = "html",
                 charset: str = "UTF-8") -> DataFrame:
    """Page ``<head>`` metadata as typed columns — ``title``,
    ``description``, ``canonical`` (rel=canonical href), ``og_title``,
    and the **indexing gate** ``noindex`` / ``nofollow`` from the
    robots meta tag: the per-page half of crawl politeness that
    robots.txt (:mod:`beats_analytics.robots`) can't express — a
    corpus builder that ignores ``noindex`` republishes pages their
    owners excluded, so this column belongs in every ingest filter
    chain next to :func:`~beats_analytics.robots.robots_allowed`.

    First matching tag wins (document order, regexp_extract
    semantics); attribute order is handled by paired alternates (no
    lookaround — RE2 and Java agree, the oracle replays exactly).
    Title/description are whitespace-collapsed and entity-decoded via
    :data:`CELL_STRIP_STEPS`. Pure codegen projection: zero shuffle,
    zero Python — head metadata for 10^12 pages at scan speed.
    """
    col = F.col(html_col)
    if isinstance(df.schema[html_col].dataType, BinaryType):
        col = F.decode(col, charset)

    def first(*pats: str) -> Column:
        out = F.lit("")
        for p in pats:
            ex = F.regexp_extract(col, p, 1)
            out = F.when(out != "", out).otherwise(ex)
        return out

    def textish(c: Column) -> Column:
        return _cell_text(c)

    desc = first(*_meta_content("description"))
    ogt = first(*_meta_content("og:title"))
    robots = F.lower(first(*_meta_content("robots")))
    return (df.withColumn("title", textish(first(_TITLE_RE)))
            .withColumn("description", textish(desc))
            .withColumn("canonical", first(_CANON_RE, _CANON_RE2))
            .withColumn("og_title", textish(ogt))
            .withColumn("noindex", robots.rlike(r"\bnoindex\b")
                        | robots.rlike(r"\bnone\b"))
            .withColumn("nofollow", robots.rlike(r"\bnofollow\b")
                        | robots.rlike(r"\bnone\b")))


#: any <link ...> tag; alternates are filtered and their attributes
#: re-extracted individually, so rel / hreflang / href may appear in
#: ANY order — six permutations would otherwise need six patterns
#: (no lookaround in the RE2 ∩ Java subset).
_LINKTAG_RE = r"(?is)<link\s[^>]*>"


def extract_hreflang(html: Column) -> Column:
    """``array<struct<hreflang, href>>`` of the page's
    ``rel="alternate" hreflang`` link tags — the publisher-declared
    translation graph. This is THE high-precision bitext-mining
    signal: pages that declare each other as language alternates are
    parallel by construction (the URL-pattern miner
    ``lang_url_pairs`` recovers the same pairs only heuristically).
    Attribute order is free: the tag is matched whole, then each
    attribute is extracted from the match. Entries missing either
    attribute are dropped; ``x-default`` entries are kept (callers
    filter). Pure codegen, zero shuffle / Python."""
    tags = F.regexp_extract_all(html, F.lit(_LINKTAG_RE), 0)
    alts = F.filter(
        tags, lambda t: t.rlike(r'(?is)rel\s*=\s*"alternate"'))
    out = F.transform(alts, lambda t: F.struct(
        F.lower(F.regexp_extract(t, r'(?is)hreflang\s*=\s*"([^"]*)"', 1))
        .alias("hreflang"),
        F.regexp_extract(t, r'(?is)href\s*=\s*"([^"]*)"', 1)
        .alias("href")))
    return F.filter(out, lambda s: (s["hreflang"] != "")
                    & (s["href"] != ""))
