"""RFC 9309 robots.txt engine (beats_analytics/robots.py): parse/group/match
semantics against the RFC + public Googlebot documented examples, the
broadcast plan shape, and URL path extraction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_analytics.robots import (
    compile_robots_pattern, parse_robots, parse_robots_txt,
    robots_filter, url_path,
)

BODY = """
# policy
User-agent: ExampleBot
User-agent: OtherBot
Disallow: /private/
Allow: /private/public$

User-agent: *
Disallow: /tmp/*
Allow: /tmp/keep
Disallow:
Crawl-delay: 10
Sitemap: https://x/sitemap.xml
BrokenLineWithoutColon
"""


def test_parse_groups_and_tolerance():
    rules = parse_robots_txt(BODY)
    # two agents share the first block; star group gets both rules;
    # empty Disallow, crawl-delay, sitemap and the broken line vanish
    assert ("examplebot", False, "/private/", 9, "^/private/") in rules
    assert ("otherbot", True, "/private/public$", 16,
            "^/private/public$") in rules
    assert ("*", False, "/tmp/*", 6, "^/tmp/.*") in rules
    assert ("*", True, "/tmp/keep", 9, "^/tmp/keep") in rules
    assert len(rules) == 6
    assert parse_robots_txt(None) == [] and parse_robots_txt("") == []
    # a User-agent line AFTER rules starts a NEW group
    two = parse_robots_txt(
        "User-agent: a\nDisallow: /x\nUser-agent: b\nDisallow: /y\n")
    assert ("a", False, "/x", 2, "^/x") in two
    assert ("b", False, "/y", 2, "^/y") in two
    assert ("a", False, "/y", 2, "^/y") not in two


def test_pattern_compilation():
    assert compile_robots_pattern("/a*b$") == "^/a.*b$"
    assert compile_robots_pattern("/fish") == "^/fish"
    assert compile_robots_pattern("/*.php$") == "^/.*\\.php$"
    assert compile_robots_pattern("/a+b(c)") == r"^/a\+b\(c\)"


def test_url_path_extraction(spark):
    df = spark.createDataFrame(
        [("https://h.com/a/b?q=1#frag",), ("http://h.com",),
         ("https://h.com/",), ("h.com/rel/x",)], "url string")
    got = [r["p"] for r in
           df.select(url_path(F.col("url")).alias("p")).collect()]
    assert got == ["/a/b?q=1", "/", "/", "/rel/x"]


def test_filter_semantics_and_plan(spark):
    rob = parse_robots(spark.createDataFrame(
        [("ex.com", BODY)], "host string, robots_txt string"))
    urls = spark.createDataFrame(
        [(1, "https://ex.com/private/x"),
         (2, "https://ex.com/private/public"),
         (3, "https://ex.com/private/publicX"),   # $ anchor must fail
         (4, "https://EX.com/tmp/a"),             # host case-insensitive
         (5, "https://ex.com/tmp/keep2"),         # allow is longest
         (6, "https://ex.com/ok"),
         (7, "https://norobots.com/private/x")],
        "i int, url string")
    ex = {r["i"]: r["robots_allowed"] for r in
          robots_filter(urls, rob, user_agent="ExampleBot").collect()}
    # ExampleBot's own group applies — the star /tmp/* rule must NOT
    assert ex == {1: False, 2: True, 3: False, 4: True, 5: True,
                  6: True, 7: True}
    star = {r["i"]: r["robots_allowed"] for r in
            robots_filter(urls, rob, user_agent="randombot").collect()}
    assert star == {1: True, 2: True, 3: True, 4: False, 5: True,
                    6: True, 7: True}
    out = robots_filter(urls, rob, user_agent="ExampleBot")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan   # URL side never moves


def test_filter_longest_match_tie_allows(spark):
    body = "User-agent: *\nDisallow: /page\nAllow: /page\n"
    rob = parse_robots(spark.createDataFrame(
        [("h.com", body)], "host string, robots_txt string"))
    urls = spark.createDataFrame([("https://h.com/page",)], "url string")
    r = robots_filter(urls, rob).collect()[0]
    assert r["robots_allowed"] is True   # equal length: allow wins


def test_parse_sitemap_and_index(spark):
    from beats_analytics.robots import parse_sitemap, parse_sitemap_index
    xml = """<?xml version="1.0" encoding="UTF-8"?>
    <urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      <url ><loc> https://h.com/a </loc><lastmod>2024-01-02</lastmod>
        <changefreq>daily</changefreq><priority>0.8</priority></url>
      <URL><loc>ignored-wrong-case-outer-ok?</loc></URL>
      <url><loc>https://h.com/b</loc></url>
      <url><lastmod>2024-01-01</lastmod></url>
    </urlset>"""
    df = spark.createDataFrame([(xml,)], "xml string")
    rows = [tuple(r["u"]) for r in
            df.select(F.explode(parse_sitemap(F.col("xml")))
                      .alias("u")).collect()]
    # loc-less entry dropped; whitespace trimmed; defaults applied;
    # tag matching is case-insensitive ((?i)), so the <URL> entry
    # parses too
    assert ("https://h.com/a", "2024-01-02", "daily", 0.8) in rows
    assert ("https://h.com/b", None, None, 0.5) in rows
    assert all(r[0] is not None for r in rows)
    idx = """<sitemapindex>
      <sitemap><loc>https://h.com/s1.xml</loc>
        <lastmod>2024-03-01</lastmod></sitemap>
      <sitemap><lastmod>2024-03-02</lastmod></sitemap>
    </sitemapindex>"""
    df2 = spark.createDataFrame([(idx,)], "xml string")
    got = [tuple(r["s"]) for r in
           df2.select(F.explode(parse_sitemap_index(F.col("xml")))
                      .alias("s")).collect()]
    assert got == [("https://h.com/s1.xml", "2024-03-01")]
    plan = (df.select(parse_sitemap(F.col("xml")).alias("u"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_parse_feed_rss_atom_mixed(spark):
    """RSS items and Atom entries from the same blob set; CDATA
    unwrap, link-less items dropped, tag absence comes back NULL."""
    from pyspark.sql import functions as F
    from beats_analytics.robots import parse_feed
    rss = ("<rss><channel><item><title><![CDATA[Hello & Co]]></title>"
           "<link>https://e.x/1</link><guid>g1</guid>"
           "<pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate></item>"
           "<item><title>NoGuid</title><link>https://e.x/2</link></item>"
           "<item><title>dropped</title></item></channel></rss>")
    atom = ('<feed><entry><title>A1</title>'
            '<link rel="alternate" href="https://e.x/a1"/>'
            "<id>t:a1</id><updated>2024-01-02T03:04:05Z</updated>"
            "</entry><entry><link href=\"https://e.x/a2\"/></entry>"
            "</feed>")
    df = spark.createDataFrame([(1, rss), (2, atom), (3, "plain"),
                                (4, None)],
                               "doc_id long, xml string")
    rows = (df.select("doc_id", F.explode(parse_feed(F.col("xml")))
                      .alias("e")).select("doc_id", "e.*").collect())
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by and 4 not in by
    r1 = sorted(by[1], key=lambda r: r["link"])
    assert len(r1) == 2  # link-less item dropped
    assert r1[0]["title"] == "Hello & Co"  # CDATA unwrapped
    assert r1[0]["entry_id"] == "g1" and r1[0]["kind"] == "rss"
    assert r1[1]["entry_id"] is None
    r2 = sorted(by[2], key=lambda r: r["link"])
    assert len(r2) == 2 and r2[0]["kind"] == "atom"
    assert r2[0]["title"] == "A1" and r2[0]["published"] \
        == "2024-01-02T03:04:05Z"
    assert r2[1]["title"] is None  # absent tag -> NULL
