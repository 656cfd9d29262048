"""HTML -> text extraction (beats_analytics.htmltext)."""
import pytest
from pyspark.sql import functions as F

from beats_analytics import extract_text, html_to_text


def _x(spark, htmls):
    df = spark.createDataFrame([(h,) for h in htmls], "h string")
    return [r.t for r in
            df.select(html_to_text(F.col("h")).alias("t")).collect()]


def test_basic_structure_and_entities(spark):
    html = ('<html><head><title>T</title></head><body>'
            '<h1>Hello &amp; welcome!</h1>'
            '<p>first para</p><p>second &lt;b&gt; para</p>'
            '</body></html>')
    (got,) = _x(spark, [html])
    assert got == "THello & welcome!\nfirst para\nsecond <b> para"


def test_script_style_comments_dropped(spark):
    html = ('<body><!-- secret --><script>if (a < b) { alert(1); }'
            '</script><style>p { x: y }</style>visible text.</body>')
    (got,) = _x(spark, [html])
    assert got == "visible text."


def test_whitespace_collapse_and_br(spark):
    html = "a   b\t c<br><br><br>d  \n  e"
    (got,) = _x(spark, [html])
    assert got == "a b c\n\nd\ne"


def test_null_and_plain_text(spark):
    got = _x(spark, [None, "no tags at all", ""])
    assert got == [None, "no tags at all", ""]


def test_extract_text_decodes_binary(spark):
    df = spark.createDataFrame([(1, "<p>hi there.</p>")], ["id", "s"]) \
              .select("id", F.encode(F.col("s"), "UTF-8").alias("html"))
    assert dict(df.dtypes)["html"] == "binary"
    out = extract_text(df).collect()[0]
    assert out.text == "hi there."


def test_strip_chain_shared_with_duckdb(spark):
    """The SQL emitter replays the identical chain on messy input."""
    import duckdb
    from beats_analytics import html_strip_sql
    messy = ('<div class="x"><script a="1">var s = "</div>";</script>'
             '<h2>A &quot;B&#39;s&quot; C</h2><ul><li>one</li>'
             '<li>two</li></ul>&nbsp;tail   spaces</div>  ')
    (spark_got,) = _x(spark, [messy])
    duck_got, = duckdb.connect().execute(
        "SELECT " + html_strip_sql("'" + messy.replace("'", "''") + "'")
    ).fetchone()
    assert spark_got == duck_got


def test_extract_links_semantics(spark):
    from beats_analytics.htmltext import extract_links
    html = (
        '<p>pre</p>'
        '<a href="https://Ex.COM/a?q=1#f">plain</a>'
        '<A CLASS="x" HREF="/rel/path">nested <b>bold</b>\n text </A>'
        '<a href="//cdn.net/y">proto-rel</a>'
        '<a href="#frag">frag only</a>'
        '<a name="no-href">not a link</a>'
        '<a href="https://multi.example/z">line\nbroken  anchor</a>')
    df = spark.createDataFrame([(html, "base.org")], "h string, b string")
    out = df.select(F.explode(
        extract_links(F.col("h"), base_host=F.col("b"))).alias("l")) \
        .select("l.href", "l.anchor", "l.host")
    rows = [tuple(r) for r in out.collect()]
    assert rows == [
        ("https://Ex.COM/a?q=1#f", "plain", "ex.com"),
        ("/rel/path", "nested bold text", "base.org"),
        ("//cdn.net/y", "proto-rel", "cdn.net"),
        ("#frag", "frag only", "base.org"),
        ("https://multi.example/z", "line broken anchor",
         "multi.example"),
    ]
    # no base host: relative links yield NULL host; plan is pure map
    out2 = df.select(F.explode(extract_links(F.col("h"))).alias("l"))
    hosts = [r["l"]["host"] for r in out2.collect()]
    assert hosts[1] is None and hosts[3] is None and hosts[0] == "ex.com"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_link_host_non_http_schemes_yield_null(spark):
    from beats_analytics.htmltext import extract_links
    html = ('<a href="mailto:a@b.com">mail</a>'
            '<a href="javascript:void(0)">js</a>'
            '<a href="tel:+1-555">call</a>'
            '<a href="ftp://files.example/x">ftp</a>'
            '<a href="/rel">rel</a>')
    df = spark.createDataFrame([(html, "base.org")], "h string, b string")
    hosts = [r["l"]["host"] for r in
             df.select(F.explode(extract_links(
                 F.col("h"), base_host=F.col("b"))).alias("l")).collect()]
    # non-http(s) schemes -> NULL (no phantom self-edges); relative ->
    # base
    assert hosts == [None, None, None, None, "base.org"]


def test_extract_tables_known_values(spark):
    """Hand-built page: header flags, 0-based document-order indices,
    per-cell tag strip/entity decode/whitespace collapse; empty
    tables and table-less/NULL pages contribute nothing; nested
    markup inside a cell survives as its text."""
    from pyspark.sql import functions as F
    from beats_analytics.htmltext import extract_tables
    html = ('<html><body><p>intro</p>'
            '<table class="x"><tr><th>Lang</th><th>N</th></tr>'
            '<tr><td><b>en</b> &amp; more</td><td>42</td></tr>'
            '<TR><TD colspan=2>one&nbsp;cell<br>two</TD></TR></table>'
            'mid<table><tr><td>only</td></tr></table>'
            '<table></table></body></html>')
    df = spark.createDataFrame(
        [(1, html), (2, "no tables here"), (3, None)],
        "doc_id long, html string")
    rows = (df.select("doc_id",
                      F.explode(extract_tables(F.col("html"))).alias("c"))
            .select("doc_id", "c.*").collect())
    got = {(r["doc_id"], r["table_idx"], r["row_idx"], r["col_idx"]):
           (r["header"], r["cell"]) for r in rows}
    assert got[(1, 0, 0, 0)] == (True, "Lang")
    assert got[(1, 0, 0, 1)] == (True, "N")
    assert got[(1, 0, 1, 0)] == (False, "en & more")
    assert got[(1, 0, 1, 1)] == (False, "42")
    assert got[(1, 0, 2, 0)] == (False, "one cell two")
    assert got[(1, 1, 0, 0)] == (False, "only")
    assert len(got) == 6  # empty table + docs 2/3 add nothing


def test_extract_meta_known_values(spark):
    """Both attribute orders, entity/whitespace cleanup in title,
    first-tag-wins, robots directives incl. 'none', and the
    no-metadata page yielding empty strings + false gates."""
    from beats_analytics.htmltext import extract_meta
    pages = [
        (1, '<html><head><title> A &amp; B </title>'
            '<meta name="description" content="first">'
            '<meta name="description" content="second">'
            '<link href="https://e.x/c" rel="canonical">'
            '<meta content="NOINDEX, nofollow" name="robots">'
            '</head><body>x</body></html>'),
        (2, '<head><meta property="og:title" content="og here">'
            '<meta name="robots" content="none"></head>'),
        (3, '<head><meta name="robots" content="index,follow">'
            '</head>'),
        (4, "<p>no head</p>"),
    ]
    df = spark.createDataFrame(pages, "doc_id long, html string")
    got = {r["doc_id"]: r for r in extract_meta(df).collect()}
    assert got[1]["title"] == "A & B"
    assert got[1]["description"] == "first"
    assert got[1]["canonical"] == "https://e.x/c"
    assert got[1]["noindex"] and got[1]["nofollow"]
    assert got[2]["og_title"] == "og here"
    assert got[2]["noindex"] and got[2]["nofollow"]  # none == both
    assert not got[3]["noindex"] and not got[3]["nofollow"]
    assert got[4]["title"] == "" and got[4]["canonical"] == ""
    assert not got[4]["noindex"]


def test_extract_hreflang_orders_and_gates(spark):
    """Attribute order free; stylesheet links and incomplete
    alternates dropped; lang lowercased; x-default kept."""
    from pyspark.sql import functions as F
    from beats_analytics.htmltext import extract_hreflang
    html = ('<head>'
            '<link rel="alternate" hreflang="EN" href="https://e.x/en">'
            '<link href="https://e.x/de" hreflang="de" rel="alternate">'
            '<link rel="alternate" hreflang="x-default" '
            'href="https://e.x/">'
            '<link rel="alternate" hreflang="fr">'
            '<link rel="stylesheet" href="/s.css"></head>')
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    rows = (df.select(F.explode(extract_hreflang(F.col("html")))
                      .alias("a")).select("a.*").collect())
    got = {r["hreflang"]: r["href"] for r in rows}
    assert got == {"en": "https://e.x/en", "de": "https://e.x/de",
                   "x-default": "https://e.x/"}


def test_dom_fingerprint_structure_only(spark):
    from beats_analytics import dom_fingerprint
    rows = [
        # same structure, different text / attr values / attr order
        (1, '<html><body><div class="a"><p>hello</p></div></body></html>'),
        (2, '<HTML><Body><DIV id="z" class="b"><P>bye now</P>'
            '</DIV></Body></HTML>'),
        # extra tag -> different template
        (3, '<html><body><div><p>x</p><p>y</p></div></body></html>'),
        # closing slash matters: div open/open vs open/close
        (4, '<html><body><div><p>x</p><div></div></body></html>'),
        (5, None),
        (6, 'no tags at all'),
        (7, ''),
    ]
    df = spark.createDataFrame(rows, "id int, h string")
    got = {r["id"]: r["fp"] for r in df.select(
        "id", dom_fingerprint(F.col("h")).alias("fp")).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3] and got[3] != got[4] and got[1] != got[4]
    assert got[5] is None
    assert got[6] == got[7]  # both hash the empty tag sequence
    # pure codegen: no Python eval nodes in the plan
    plan = df.select(dom_fingerprint(F.col("h")))._jdf \
        .queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_dom_fingerprint_sql_parity(spark):
    import duckdb
    from beats_analytics import dom_fingerprint, dom_fingerprint_sql
    htmls = ['<div class="x"><p>a</p></div>', "<ul><li>1<li>2</ul>",
             "< notatag", "text only", "<a href='u'>t</a><br/>"]
    df = spark.createDataFrame([(h,) for h in htmls], "h string")
    got = [r["fp"] for r in
           df.select(dom_fingerprint(F.col("h")).alias("fp")).collect()]
    con = duckdb.connect()
    want = [con.execute(
        f"SELECT {dom_fingerprint_sql('?')}", [h, h]).fetchone()[0]
        for h in htmls]
    assert got == want


def test_wilson_lower_bound_values(spark):
    from beats_analytics import wilson_lower_bound
    df = spark.createDataFrame(
        [(3, 3), (97, 100), (0, 5), (5, 5), (50, 100)], "k long, n long")
    got = {(r["k"], r["n"]): r["w"] for r in df.select(
        "k", "n",
        F.round(wilson_lower_bound(F.col("k"), F.col("n")), 6)
         .alias("w")).collect()}
    # the motivating property: 97/100 outranks 3/3
    assert got[(97, 100)] > got[(3, 3)]
    # known value: 50/100 at z=1.96 -> 0.40383 at 6 dp
    assert got[(50, 100)] == 0.40383
    assert got[(0, 5)] == 0.0
    assert 0.0 < got[(5, 5)] < 1.0
