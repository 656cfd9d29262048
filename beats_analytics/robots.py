"""robots.txt (RFC 9309) parsing and crawl-compliance filtering — the
legal/etiquette gate a web corpus applies before anything else: at
10^12 candidate URLs, "may we even use this page" is a first-class
curation operator.

Semantics implemented (RFC 9309 §2, cross-checked against the public
Googlebot documentation of the same rules):

- groups: consecutive ``User-agent:`` lines share the rule block that
  follows; a ``User-agent:`` line AFTER rules starts a new group;
- matching group: the crawler's product token (case-insensitive exact
  match) if any group names it, else the ``*`` group, else no rules —
  allowed;
- rule matching: a rule's path is a prefix pattern over the URL path;
  ``*`` matches any span, a TRAILING ``$`` anchors at end-of-URL
  (elsewhere ``$`` is literal); empty patterns match nothing;
- precedence: the LONGEST (most octets) matching pattern wins; on a
  length tie the least-restrictive rule (allow) wins;
- ``#`` starts a comment; directive names are case-insensitive;
  non-group-member directives (sitemap, crawl-delay) are ignored.

Shape — the psl.py recipe: robots bodies are one-per-host (the SMALL
side), parsed by one Arrow kernel into per-host rule arrays and
BROADCAST; the 10^12-row URL side pays a single BroadcastHashJoin on
host plus map-side higher-order matching (``regexp_like`` over the
pre-compiled per-rule regexes inside an array filter) — the big side
never shuffles and never runs Python. Pattern→regex compilation
happens once per rule at parse time, in the kernel.
"""

from __future__ import annotations

import re
from typing import Iterator, List, Optional, Tuple

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["compile_robots_pattern", "parse_feed",
           "parse_robots_txt", "parse_robots",
           "parse_sitemap", "parse_sitemap_index", "robots_filter",
           "url_path"]

_DIRECTIVE_RE = re.compile(r"^\s*([A-Za-z-]+)\s*:\s*(.*?)\s*$")


def compile_robots_pattern(path: str) -> str:
    """RFC 9309 path pattern → anchored regex: ``*`` → ``.*``, a
    TRAILING ``$`` anchors, everything else is a literal (escaped so
    Java and RE2 agree — the portable subset this repo's shared regex
    tables standardize on)."""
    anchored = path.endswith("$")
    if anchored:
        path = path[:-1]
    parts = [re.escape(p) for p in path.split("*")]
    return "^" + ".*".join(parts) + ("$" if anchored else "")


def parse_robots_txt(body: "str | None") -> List[Tuple[str, bool, str,
                                                       int, str]]:
    """Parse one robots.txt body → ``[(agent, allow, path,
    specificity, regex)]``; see module docstring for the group rules.
    Unparseable lines are skipped (RFC 9309 §2.2: crawlers MUST be
    tolerant of unknown/invalid lines — a crawl gate that dies on a
    webmaster's typo gates nothing)."""
    if not body:
        return []
    out: List[Tuple[str, bool, str, int, str]] = []
    agents: List[str] = []
    in_rules = False       # rules seen since the last User-agent line
    for raw in body.split("\n"):
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        m = _DIRECTIVE_RE.match(line)
        if not m:
            continue
        name, value = m.group(1).lower(), m.group(2)
        if name == "user-agent":
            if in_rules:
                agents, in_rules = [], False
            agents.append(value.lower())
            continue
        if name in ("allow", "disallow"):
            in_rules = True
            if not agents or value == "":
                continue   # rules before any UA line / empty pattern:
                #              match nothing (RFC empty-pattern rule)
            allow = name == "allow"
            rx = compile_robots_pattern(value)
            for a in agents:
                out.append((a, allow, value, len(value), rx))
        # sitemap/crawl-delay/unknown: ignored, not group members
    return out


_RULES_SCHEMA = ("array<struct<agent: string, allow: boolean, "
                 "path: string, spec: int, re: string>>")


def parse_robots(
    df: DataFrame,
    body_col: str = "robots_txt",
    host_col: str = "host",
) -> DataFrame:
    """Per-host rule table: ``(host, rules array)`` — the broadcast
    side of :func:`robots_filter`. One Arrow kernel over the robots
    bodies (small: one row per host), nothing else."""
    @F.pandas_udf(_RULES_SCHEMA)
    def _parse(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ser in it:
            yield ser.map(parse_robots_txt)
    return df.select(F.col(host_col).alias("host"),
                     _parse(F.col(body_col)).alias("rules"))


def url_path(url: Column) -> Column:
    """URL → path component ('/' when absent): strip scheme,
    authority, and fragment; KEEP the query string (robots patterns
    match path + '?' + query per the public implementations)."""
    no_frag = F.substring_index(url, "#", 1)
    after_scheme = F.regexp_replace(no_frag, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    path = F.regexp_extract(after_scheme, r"^[^/]*(/.*)?$", 1)
    return F.when(path == "", F.lit("/")).otherwise(path)


def robots_filter(
    urls: DataFrame,
    robots: DataFrame,
    user_agent: str = "*",
    url_col: str = "url",
    host_col: Optional[str] = None,
    out_col: str = "robots_allowed",
) -> DataFrame:
    """Add boolean ``out_col``: may ``user_agent`` fetch each URL
    under RFC 9309? ``robots`` is a :func:`parse_robots` output (or
    any ``(host, rules)`` frame). Hosts with no robots row — and
    hosts whose robots name neither the agent nor ``*`` — are allowed
    (the RFC default).

    Plan: ONE BroadcastHashJoin on host; group selection, rule
    matching (``regexp_like`` over the pre-compiled regexes) and
    longest-match/allow-tie precedence are all map-side higher-order
    expressions — an ``array_max`` over ``(spec, allow)`` structs IS
    the precedence rule, no window, no second shuffle. The URL side
    never moves."""
    ua = user_agent.lower()
    host = (F.col(host_col) if host_col
            else F.regexp_extract(
                F.substring_index(F.col(url_col), "#", 1),
                r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)", 1))
    joined = (urls.withColumn("__host", F.lower(host))
              .join(F.broadcast(robots.select(
                  F.lower(F.col("host")).alias("__host"),
                  F.col("rules").alias("__rules"))),
                  "__host", "left"))
    rules = F.col("__rules")
    exact = F.filter(rules, lambda r: r["agent"] == F.lit(ua))
    star = F.filter(rules, lambda r: r["agent"] == "*")
    chosen = (F.when(F.size(exact) > 0, exact).otherwise(star)
              if ua != "*" else star)
    path = url_path(F.col(url_col))
    joined = joined.withColumn("__path", path) \
                   .withColumn("__chosen", chosen)
    matching = F.filter(
        F.col("__chosen"),
        lambda r: F.regexp_like(F.col("__path"), r["re"]))
    # precedence = max (spec, allow): longest pattern first, allow on
    # length ties — struct comparison is field-order lexicographic
    best = F.array_max(F.transform(
        matching, lambda r: F.struct(r["spec"].alias("spec"),
                                     r["allow"].alias("allow"))))
    allowed = F.coalesce(
        F.when(F.size(matching) > 0, best["allow"]),
        F.lit(True))     # no robots / no group / no matching rule
    return (joined.withColumn(out_col, allowed)
            .drop("__host", "__rules", "__chosen", "__path"))


# ---------------------------------------------------------------------
# sitemaps (sitemaps.org protocol) — robots.txt's companion crawl
# metadata: the <urlset> entries a host advertises for fetching
# ---------------------------------------------------------------------

_URL_ENTRY_RE = r"(?is)<url\s*>(.*?)</url\s*>"
_SITEMAP_ENTRY_RE = r"(?is)<sitemap\s*>(.*?)</sitemap\s*>"


def _tag(entry: Column, name: str) -> Column:
    got = F.regexp_extract(entry, rf"(?is)<{name}\s*>(.*?)</{name}\s*>", 1)
    return F.when(F.trim(got) != "", F.trim(got))


def parse_sitemap(xml: Column) -> Column:
    """sitemaps.org ``<urlset>`` entries →
    ``array<struct<loc, lastmod, changefreq, priority>>`` — ``loc``
    required (entries without one are dropped per the protocol),
    ``lastmod`` kept as the W3C datetime STRING (date-only and full
    timestamp forms both occur in the wild; the caller picks the
    parse), ``priority`` a double (protocol default 0.5 when absent).

    Same recipe as :func:`~beats_analytics.htmltext.extract_links`:
    one codegen regexp pass over the blob, per-entry tag extraction in
    a transform — zero shuffle, zero Python, RE2 ∩ Java patterns so a
    SQL oracle replays it. Sitemap INDEX files (``<sitemapindex>``)
    list child sitemaps, not pages: :func:`parse_sitemap_index` reads
    those."""
    entries = F.regexp_extract_all(xml, F.lit(_URL_ENTRY_RE), 1)

    def one(e: Column) -> Column:
        return F.struct(
            _tag(e, "loc").alias("loc"),
            _tag(e, "lastmod").alias("lastmod"),
            _tag(e, "changefreq").alias("changefreq"),
            F.coalesce(_tag(e, "priority").cast("double"),
                       F.lit(0.5)).alias("priority"))

    return F.filter(F.transform(entries, one),
                    lambda s: s["loc"].isNotNull())


def parse_sitemap_index(xml: Column) -> Column:
    """``<sitemapindex>`` → ``array<struct<loc, lastmod>>`` of child
    sitemap locations (the recursive fetch frontier)."""
    entries = F.regexp_extract_all(xml, F.lit(_SITEMAP_ENTRY_RE), 1)
    return F.filter(
        F.transform(entries, lambda e: F.struct(
            _tag(e, "loc").alias("loc"),
            _tag(e, "lastmod").alias("lastmod"))),
        lambda s: s["loc"].isNotNull())


# ---------------------------------------------------------------------
# feeds (RSS 2.0 <item> / Atom <entry>) — the third crawl-discovery
# channel next to sitemaps and outlinks: feeds advertise NEW content
# with timestamps, so crawl schedulers poll them at high frequency
# ---------------------------------------------------------------------

_RSS_ITEM_RE = r"(?is)<item[\s>](.*?)</item\s*>"
_ATOM_ENTRY_RE = r"(?is)<entry[\s>](.*?)</entry\s*>"
_ATOM_LINK_RE = r'(?is)<link\s[^>]*href\s*=\s*"([^"]*)"'
_CDATA_RE = r"(?is)^<!\[CDATA\[(.*)\]\]>$"


def _feed_tag(entry: Column, name: str) -> Column:
    """Tag text with optional CDATA unwrap, trimmed; NULL when absent
    or empty."""
    got = F.trim(F.regexp_extract(
        entry, rf"(?is)<{name}\s*>(.*?)</{name}\s*>", 1))
    got = F.trim(F.regexp_replace(got, _CDATA_RE, "$1"))
    return F.when(got != "", got)


def parse_feed(xml: Column) -> Column:
    """RSS 2.0 and Atom feed entries →
    ``array<struct<title, link, entry_id, published, kind>>``.

    RSS ``<item>``: title / ``<link>text</link>`` / guid / pubDate.
    Atom ``<entry>``: title / ``<link href="...">`` / id / updated.
    Both forms are parsed unconditionally and concatenated — a blob
    that is one kind simply contributes zero entries of the other —
    so mixed-feed corpora need no per-row dispatch. CDATA-wrapped
    titles unwrap; entries without a link are dropped (nothing to
    crawl). Same scale recipe as :func:`parse_sitemap`: one codegen
    regexp pass per form, per-entry tag extraction in a transform,
    zero shuffle / zero Python, RE2 ∩ Java patterns so a SQL oracle
    replays extraction exactly.
    """
    rss = F.regexp_extract_all(xml, F.lit(_RSS_ITEM_RE), 1)
    atom = F.regexp_extract_all(xml, F.lit(_ATOM_ENTRY_RE), 1)

    def rss_one(e: Column) -> Column:
        return F.struct(
            _feed_tag(e, "title").alias("title"),
            _feed_tag(e, "link").alias("link"),
            _feed_tag(e, "guid").alias("entry_id"),
            _feed_tag(e, "pubDate").alias("published"),
            F.lit("rss").alias("kind"))

    def atom_one(e: Column) -> Column:
        href = F.regexp_extract(e, _ATOM_LINK_RE, 1)
        return F.struct(
            _feed_tag(e, "title").alias("title"),
            F.when(href != "", href).alias("link"),
            _feed_tag(e, "id").alias("entry_id"),
            _feed_tag(e, "updated").alias("published"),
            F.lit("atom").alias("kind"))

    both = F.concat(F.transform(rss, rss_one),
                    F.transform(atom, atom_one))
    return F.filter(both, lambda s: s["link"].isNotNull())
