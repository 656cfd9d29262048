"""URL canonicalization and URL-level dedup
(beats_analytics.urls)."""
import pytest
from pyspark.sql import functions as F

from beats_analytics import canonical_url, url_dedup


def _canon(spark, urls, **kw):
    df = spark.createDataFrame([(u,) for u in urls], ["u"])
    rows = df.select(F.col("u"),
                     canonical_url(F.col("u"), **kw).alias("c")).collect()
    return {r.u: r.c for r in rows}


CASES = [
    # scheme + host case-fold; path case preserved
    ("HTTPS://ExAmple.COM/Path/X", "https://example.com/Path/X"),
    # default ports stripped, only for the matching scheme
    ("http://a.com:80/x", "http://a.com/x"),
    ("https://a.com:443/x", "https://a.com/x"),
    ("http://a.com:443/x", "http://a.com:443/x"),
    ("https://a.com:8080/x", "https://a.com:8080/x"),
    # fragment dropped
    ("https://a.com/x#frag", "https://a.com/x"),
    ("https://a.com/x?q=1#frag", "https://a.com/x?q=1"),
    # empty path -> /
    ("https://a.com", "https://a.com/"),
    ("https://a.com?b=2&a=1", "https://a.com/?a=1&b=2"),
    # tracking params dropped, rest sorted; emptied query loses '?'
    ("https://a.com/x?utm_source=f&utm_medium=m", "https://a.com/x"),
    ("https://a.com/x?b=2&utm_campaign=c&a=1", "https://a.com/x?a=1&b=2"),
    ("https://a.com/x?gclid=1&fbclid=2&msclkid=3", "https://a.com/x"),
    # bare tracking name without '=' also dropped
    ("https://a.com/x?utm_source&a=1", "https://a.com/x?a=1"),
    # empty pairs dropped; '??' second '?' belongs to the query value
    ("https://a.com/x?&&a=1&", "https://a.com/x?a=1"),
    # a param merely CONTAINING a tracking name survives
    ("https://a.com/x?xutm_source=1", "https://a.com/x?xutm_source=1"),
    ("https://a.com/x?gclid2=1", "https://a.com/x?gclid2=1"),
    # trailing '?' with no params
    ("https://a.com/x?", "https://a.com/x"),
    # no scheme: passthrough (trimmed, defragmented) only
    ("example.com/x?utm_source=f", "example.com/x?utm_source=f"),
    ("  /rel/path#f  ", "/rel/path"),
    ("", ""),
]


@pytest.mark.parametrize("raw,want", CASES)
def test_canonical_url_cases(spark, raw, want):
    assert _canon(spark, [raw])[raw] == want


def test_strip_www(spark):
    got = _canon(spark, ["https://WWW.Example.com/x",
                         "https://wwwx.com/x"], strip_www=True)
    assert got["https://WWW.Example.com/x"] == "https://example.com/x"
    # only a leading 'www.' label is stripped
    assert got["https://wwwx.com/x"] == "https://wwwx.com/x"


def test_canonical_null_passthrough(spark):
    df = spark.createDataFrame([(None,)], "u string")
    assert df.select(canonical_url(F.col("u")).alias("c")) \
             .collect()[0].c is None


def test_url_dedup_keeps_best_by_order(spark):
    rows = [
        ("https://A.com/x?utm_source=f", 5),
        ("https://a.com:443/x", 9),          # same canonical, higher q
        ("https://b.com/y", 1),
    ]
    df = spark.createDataFrame(rows, ["url", "quality"])
    out = url_dedup(df, "url",
                    order_by=[F.col("quality").desc(), F.col("url")])
    got = {r.canonical_url: (r.url, r.quality) for r in out.collect()}
    assert got == {
        "https://a.com/x": ("https://a.com:443/x", 9),
        "https://b.com/y": ("https://b.com/y", 1),
    }


def test_url_dedup_default_order_is_min_raw_url(spark):
    df = spark.createDataFrame(
        [("https://a.com/x?b=1",), ("https://A.com/x?b=1",)], ["url"])
    out = url_dedup(df, "url").collect()
    assert len(out) == 1
    assert out[0].url == "https://A.com/x?b=1"  # 'A' < 'a' bytewise


def test_url_dedup_single_shuffle(spark):
    df = spark.createDataFrame([("https://a.com/x",)], ["url"])
    plan = url_dedup(df, "url")._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# -------------------------------------------------- streaming dedup

def test_stateful_url_dedup_across_batches(spark, tmp_path):
    """Re-spellings of one canonical URL arriving in DIFFERENT
    micro-batches (within the watermark) still dedup to one survivor;
    distinct canonicals all pass."""
    from beats_analytics.streaming import stateful_url_dedup

    src, ck, out = (str(tmp_path / d) for d in ("src", "ck", "out"))
    base = "2024-01-01 00:0{m}:00"
    b1 = spark.createDataFrame(
        [("HTTP://A.com:80/x?utm_source=f", base.format(m=0)),
         ("http://b.com/y", base.format(m=0))], ["url", "ts"]) \
        .select("url", F.col("ts").cast("timestamp").alias("warc_ts"))
    b2 = spark.createDataFrame(
        [("http://a.com/x", base.format(m=1)),     # dup of batch-1 A
         ("http://c.com/z", base.format(m=1))], ["url", "ts"]) \
        .select("url", F.col("ts").cast("timestamp").alias("warc_ts"))
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream
              .schema("url string, warc_ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(src))
    deduped = stateful_url_dedup(stream, within="10 minutes")
    assert deduped.isStreaming
    q = (deduped.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = spark.read.parquet(out)
    canons = sorted(r.canonical_url for r in got.collect())
    assert canons == ["http://a.com/x", "http://b.com/y",
                      "http://c.com/z"]


# ------------------------------------------------ property: idempotence

def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) for a generated corpus
    of messy URLs — a canonicalizer must be a projection onto its own
    image, or url_dedup keys drift when a pipeline re-canonicalizes
    already-clean data."""
    import itertools
    schemes = ["http", "HTTPS", "hTtp", "ftp", ""]
    hosts = ["A.com", "www.Ex.org", "u:PW@H.io", "h.io:8080", "h.io:80"]
    paths = ["", "/", "/A/b", "/x%20y"]
    queries = ["", "?a=1&b=2", "?utm_source=x", "?b=2&a=1&gclid=z&",
               "?only=&=bad&utm_campaign=c"]
    frags = ["", "#Frag"]
    urls = []
    for s, h, p, q, f in itertools.islice(
            itertools.product(schemes, hosts, paths, queries, frags),
            0, None):
        urls.append((f"{s}://{h}{p}{q}{f}") if s else (f"{h}{p}{q}{f}"))
    urls += ["   ", "not a url", "a@b", "http//broken", None]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = canonical_url(F.col("u"))
    rows = df.select(once.alias("c1"),
                     canonical_url(once).alias("c2")).collect()
    bad = [(r.c1, r.c2) for r in rows if r.c1 != r.c2]
    assert not bad, bad[:5]


def test_url_dedup_null_urls_fail_loudly(spark):
    df = spark.createDataFrame([("http://a.com/x",), (None,)],
                               "url string")
    with pytest.raises(Exception, match="null url|assert"):
        url_dedup(df).collect()


def test_lang_url_skeleton_forms(spark):
    from beats_analytics.urls import lang_url_skeleton
    from pyspark.sql import functions as F

    cases = [
        # path segment
        ("https://example.com/en/about", "https://example.com/*/about"),
        # hyphenated locale + trailing boundary
        ("https://example.com/pt-BR/", "https://example.com/*/"),
        ("https://example.com/docs/fr", "https://example.com/docs/*"),
        # language subdomain
        ("https://de.example.com/x", "https://*.example.com/x"),
        # NOT a lang: longer segment, or lang chars inside a word
        ("https://example.com/entry/it2", "https://example.com/entry/it2"),
        ("https://denver.example.com/", "https://denver.example.com/"),
        # multiple markers
        ("https://fr.example.com/fr/a", "https://*.example.com/*/a"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["s"] for r in
           df.select(lang_url_skeleton(F.col("url")).alias("s")).collect()]
    assert got == [e for _, e in cases]


def test_lang_url_pairs_rep_bound_and_order(spark):
    from beats_analytics.urls import lang_url_pairs

    rows = [(1, "en", "https://s.example/en/p/1"),
            (2, "fr", "https://s.example/fr/p/1"),
            (3, "fr", "https://s.example/fr/p/1"),   # dup fr page
            (4, "de", "https://s.example/de/p/1"),
            (5, "en", "https://s.example/en/p/2")]   # no partner
    df = spark.createDataFrame(rows, "doc_id int, lang string, url string")
    got = sorted((r["lang_a"], r["id_a"], r["lang_b"], r["id_b"])
                 for r in lang_url_pairs(df).collect())
    # one rep per (skeleton, lang): fr rep is min(2,3)=2; lang_a<lang_b
    assert got == [("de", 4, "en", 1), ("de", 4, "fr", 2),
                   ("en", 1, "fr", 2)]


class TestCrawlTraps:
    def test_url_template_hex_before_digits(self, spark):
        from beats_analytics.urls import url_template
        from pyspark.sql import functions as F
        rows = spark.createDataFrame(
            [("https://a.com/cal/2024/07/03/e91",),
             ("https://a.com/p/7?s=0123456789abcdef0123456789abcdef",),
             ("https://a.com/p/7?s=deadbeef",),  # short hex: digit pass only
             ("https://a.com/plain",)], ["u"]) \
            .select(url_template(F.col("u")).alias("t"))
        assert [r["t"] for r in rows.collect()] == [
            "/cal/N/N/N/eN", "/p/N?s=H", "/p/N?s=deadbeef", "/plain"]

    def test_crawl_traps_flags_explosive_host_only(self, spark):
        from beats_analytics.urls import crawl_traps
        trap = [(f"https://trap.com/cal/2024/{m}/{d}/x{i}",)
                for i, (m, d) in enumerate((m, d) for m in range(1, 13)
                                           for d in range(1, 11))]
        ok = [("https://ok.com/page/%d" % (i % 3),) for i in range(120)]
        df = spark.createDataFrame(trap + ok, ["url"])
        out = {r["host"]: r for r in
               crawl_traps(df, min_ratio=50).collect()}
        assert out["trap.com"]["trap"] is True
        assert out["trap.com"]["n_templates"] == 1
        assert out["trap.com"]["n_urls"] == 120
        assert out["ok.com"]["trap"] is False
        assert out["ok.com"]["n_urls"] == 3


def test_url_path_rollup_prefixes_and_guards(spark):
    import pytest
    from pyspark.sql import functions as F
    from beats_analytics.urls import url_path_rollup
    df = spark.createDataFrame(
        [("https://a.example/x/y/z/deep",),   # depth capped at 3
         ("https://a.example/x/y?q=1",),      # query stripped
         ("https://a.example/x#frag",),       # fragment stripped
         ("https://b.example/",),             # root only: no rows
         ("https://b.example",)],             # no path at all: no rows
        "url string")
    out = {(r["host"], r["depth"], r["prefix"]): r["n_pages"]
           for r in url_path_rollup(df, "url", max_depth=3).collect()}
    assert out == {
        ("a.example", 1, "/x"): 3,
        ("a.example", 2, "/x/y"): 2,
        ("a.example", 3, "/x/y/z"): 1,
    }
    with pytest.raises(ValueError, match="max_depth"):
        url_path_rollup(df, "url", max_depth=0)


def test_surt_key_spec_vectors(spark):
    """SURT spelling per the public spec as the CC index applies it:
    scheme+www drop, host reverses, query sorts, default ports drop,
    bare host keys as host)/ ."""
    from beats_analytics.urls import surt_key
    cases = {
        "http://www.Example.com/Path?b=2&a=1":
            "com,example)/path?a=1&b=2",
        "https://sub.host.org:443/": "org,host,sub)/",
        "http://example.com": "com,example)/",
        "http://www2.example.com/x": "com,example)/x",
        "http://example.com:8080/x": "com,example:8080)/x",
        "ftp://example.com/f": "com,example)/f",
        "no scheme here": None,
    }
    df = spark.createDataFrame([(k,) for k in cases], "u string")
    got = {r["u"]: r["k"] for r in
           df.select("u", surt_key(F.col("u")).alias("k")).collect()}
    for u, want in cases.items():
        assert got[u] == want, (u, got[u], want)
    # NULL in, NULL out
    n = spark.createDataFrame([(None,)], "u string")
    assert n.select(surt_key(F.col("u")).alias("k")) \
        .collect()[0]["k"] is None


def test_cdx_parse_and_latest(spark):
    from beats_analytics.urls import cdx_latest, cdx_parse
    lines = [
        'com,a)/ 20240101120000 {"url":"http://a/","status":"200",'
        '"digest":"D1","filename":"f1","offset":"10","length":"5"}',
        'com,a)/ 20240301120000 {"url":"http://a/","status":"200",'
        '"digest":"D2","filename":"f2","offset":"20","length":"5"}',
        'com,a)/ 20240401120000 {"url":"http://a/","status":"404",'
        '"digest":"D3","filename":"f3","offset":"30","length":"5"}',
        "malformed",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    parsed = cdx_parse(df)
    rows = parsed.collect()
    bad = [r for r in rows if r["line"] == "malformed"][0]
    assert bad["urlkey"] is None and bad["digest"] is None
    ok = [r for r in rows if r["digest"] == "D1"][0]
    assert ok["warc_offset"] == 10 and ok["status"] == 200
    assert ok["capture_ts"].isoformat() == "2024-01-01T12:00:00"
    # latest keeps the freshest 200, not the fresher 404
    latest = cdx_latest(parsed).collect()
    assert len(latest) == 1 and latest[0]["digest"] == "D2"
