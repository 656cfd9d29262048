"""PII scrubbing + corpus line-dedup operator tests."""

import pytest
from pyspark.sql import Row, functions as F

from beats_analytics.scrub import (
    PII_PATTERNS, dedup_lines, pii_counts, scrub, scrub_pii)


def test_scrub_each_kind(spark):
    df = spark.createDataFrame([Row(t=(
        "mail a.b-c%d@ex-1.co.uk ssn 123-45-6789 "
        "tel +44 (0)20-7946 0958 ip 192.168.0.1 done"))])
    out = df.select(scrub_pii(F.col("t")).alias("s")).first().s
    assert out == "mail <EMAIL> ssn <SSN> tel <PHONE> ip <IP> done"


def test_scrub_order_ssn_before_phone(spark):
    # an SSN is a dialable digit run — it must become <SSN>, not <PHONE>
    df = spark.createDataFrame([Row(t="id 123-45-6789 .")])
    out = df.select(scrub_pii(F.col("t")).alias("s")).first().s
    assert out == "id <SSN> ."


def test_scrub_email_wins_over_ip(spark):
    # a dotted-quad inside an email HOST must ride the email match
    # (order: email first), while a bare quad still becomes <IP>; an
    # @ with a numeric-TLD host is NOT an email (alphabetic TLD rule)
    df = spark.createDataFrame(
        [Row(t="a@10.0.0.4.com and 10.0.0.2 but u@10.0.0.1")])
    out = df.select(scrub_pii(F.col("t")).alias("s")).first().s
    assert out == "<EMAIL> and <IP> but u@<IP>"


def test_scrub_non_pii_untouched(spark):
    keep = "nothing here: 1.5 ratio, v2, room 101, a-b"
    df = spark.createDataFrame([Row(t=keep)])
    assert df.select(scrub_pii(F.col("t")).alias("s")).first().s == keep


def test_scrub_kinds_subset_and_custom_token(spark):
    df = spark.createDataFrame([Row(t="x@y.com 10.0.0.1")])
    out = df.select(scrub_pii(
        F.col("t"), kinds=["email"],
        replacements={"email": "[redacted]"}).alias("s")).first().s
    assert out == "[redacted] 10.0.0.1"
    with pytest.raises(ValueError):
        scrub_pii(F.col("t"), kinds=["dna"])


def test_scrub_df_counts_pre_scrub(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a@b.co c@d.io 10.1.1.1"),
         Row(doc_id=2, text="clean")])
    out = scrub(df, with_counts=True).orderBy("doc_id").collect()
    assert out[0].text == "<EMAIL> <EMAIL> <IP>"
    assert (out[0].n_pii_email, out[0].n_pii_ipv4) == (2, 1)
    assert out[1].text == "clean"
    assert out[1].n_pii_email == 0
    assert set(pii_counts(F.col("text"))) == {k for k, _, _ in PII_PATTERNS}


def test_dedup_lines_corpus_first_wins(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, text="alpha\nboiler\nbeta"),
        Row(doc_id=2, text="boiler\ngamma"),
        Row(doc_id=3, text="boiler"),            # vanishes entirely
    ])
    out = {r.doc_id: r for r in dedup_lines(df).collect()}
    assert out[1].text == "alpha\nboiler\nbeta" and out[1].n_lines == 3
    assert out[2].text == "gamma" and out[2].n_lines == 1
    assert 3 not in out


def test_dedup_lines_within_doc_repeat_keeps_first(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="x\ny\nx\nz")])
    r = dedup_lines(df).first()
    assert r.text == "x\ny\nz" and r.n_lines == 3


def test_dedup_lines_doc_scope(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, text="x\nx\ny"),
        Row(doc_id=2, text="x\ny"),
    ])
    out = {r.doc_id: r.text
           for r in dedup_lines(df, scope="doc").collect()}
    assert out == {1: "x\ny", 2: "x\ny"}
    with pytest.raises(ValueError):
        dedup_lines(df, scope="galaxy")


def test_dedup_lines_custom_sep_literal(spark):
    # sep is regex-escaped on split: '||' must not be read as regex
    df = spark.createDataFrame([Row(doc_id=1, text="a||b||a")])
    r = dedup_lines(df, sep="||").first()
    assert r.text == "a||b" and r.n_lines == 2


def test_dedup_lines_order_preserved_after_gaps(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, text="m\nn"),
        Row(doc_id=2, text="p\nm\nq\nn\nr"),
    ])
    out = {r.doc_id: r.text for r in dedup_lines(df).collect()}
    assert out[2] == "p\nq\nr"


# ----------------------------------------------------------- c4_clean

def _c4(spark, pages, **kw):
    from beats_analytics import c4_clean
    df = spark.createDataFrame(pages, "doc_id long, text string")
    return {r.doc_id: r for r in c4_clean(df, **kw).collect()}


def test_c4_line_rules(spark):
    page = "\n".join([
        "this line is long enough and ends well.",   # kept
        "no terminal punctuation here at all",        # dropped: punct
        "too short.",                                 # dropped: words
        "a javascript line that would otherwise pass.",  # dropped: js
        "another perfectly fine sentence ends here!",  # kept
        "does a question mark count as terminal?",     # kept
        'quoted lines also end in a quote."',          # kept
        "fifth fine line to clear the page minimum.",  # kept
    ])
    out = _c4(spark, [(1, page)])
    assert out[1].kept_lines == 5
    kept = out[1].text.split("\n")
    assert kept[0].startswith("this line") and kept[-1].startswith("fifth")


def test_c4_page_rules_and_audit(spark):
    good = "\n".join(["good solid sentence number %d ends fine." % i
                      for i in range(6)])
    out = _c4(spark, [
        (1, good),
        (2, good + "\nsome lorem ipsum filler."),
        (3, good + "\nvar x = { a: 1 };"),
        (4, "one fine sentence is not enough here."),
        (5, None),
    ], keep_dropped=True)
    assert out[1].drop_reason is None
    assert out[2].drop_reason == "banned_substring"
    assert out[3].drop_reason == "banned_substring"
    assert out[4].drop_reason == "too_few_lines"
    assert out[5].drop_reason == "too_few_lines" and out[5].kept_lines == 0
    # filtering form drops pages 2-5 entirely and the reason column
    flt = _c4(spark, [(1, good), (4, "one fine sentence only.")])
    assert list(flt) == [1] and "drop_reason" not in flt[1].asDict()


def test_c4_trims_and_is_case_insensitive(spark):
    page = "\n".join([
        "  padded line still counts as terminal.  ",
        "LOUD JAVASCRIPT LINE SHOULD STILL DROP.",
        "ordinary best sentence to round things out.",
    ])
    out = _c4(spark, [(1, page)], min_lines_per_doc=1)
    assert out[1].kept_lines == 2
    assert out[1].text.split("\n")[0] == "padded line still counts as terminal."


def test_strip_boilerplate_per_site_ratio_and_vanishing_doc(spark):
    from beats_analytics.scrub import strip_boilerplate
    docs = spark.createDataFrame(
        [(1, "s1", "unique one\nFOOTER\nbody a"),
         (2, "s1", "unique two\nFOOTER"),
         (3, "s1", "unique three\nbody b"),
         (4, "s1", "FOOTER"),              # all-boilerplate: vanishes
         (5, "s2", "FOOTER\nother site")], # s2: FOOTER only 1/1 doc...
        "doc_id long, source string, text string")
    out = {r["doc_id"]: r
           for r in strip_boilerplate(
               docs, min_ratio=(1, 2), min_docs=2).collect()}
    # s1: FOOTER in 3/4 docs >= 1/2 and >= 2 docs -> stripped
    assert out[1]["text"] == "unique one\nbody a"
    assert out[1]["n_kept"] == 2
    assert out[2]["text"] == "unique two"
    assert out[3]["text"] == "unique three\nbody b"
    assert 4 not in out                    # every line was boilerplate
    # s2: ratio 1/1 passes but min_docs=2 fails -> kept
    assert out[5]["text"] == "FOOTER\nother site"


def test_strip_boilerplate_rejects_bad_ratio(spark):
    import pytest
    from beats_analytics.scrub import strip_boilerplate
    docs = spark.createDataFrame([(1, "s", "x")],
                                 "doc_id long, source string, "
                                 "text string")
    with pytest.raises(ValueError):
        strip_boilerplate(docs, min_ratio=(0, 2))


def test_blocklist_filter_boundaries_hits_and_guards(spark):
    import pytest
    from beats_analytics.scrub import blocklist_filter
    docs = spark.createDataFrame(
        [(1, "a classic passage, nothing bad"),   # substring != word
         (2, "SPAM here and don't stop"),         # case + apostrophe
         (3, "spam and scam together"),           # two distinct hits
         (4, None),                               # NULL text
         (5, "spam spam spam")],                  # repeats count once
        "doc_id long, text string")
    terms = ["spam", "scam", "ass", "don't"]
    out = {r["doc_id"]: r
           for r in blocklist_filter(docs, terms,
                                     keep_blocked=True).collect()}
    assert out[1]["hits"] == 0 and not out[1]["blocked"]   # "classic"
    assert out[2]["hits"] == 2 and out[2]["hit_terms"] == "don't,spam"
    assert out[3]["hits"] == 2 and out[3]["blocked"]
    assert out[4]["hits"] == 0 and out[4]["hit_terms"] == ""
    assert out[5]["hits"] == 1                      # distinct terms
    # filtering form drops blocked pages and the audit column
    kept = blocklist_filter(docs, terms)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4]
    assert "blocked" not in kept.columns
    # max_hits threshold: allow up to 2 distinct hits
    lax = blocklist_filter(docs, terms, max_hits=2)
    assert sorted(r["doc_id"] for r in lax.collect()) == [1, 2, 3, 4, 5]
    with pytest.raises(ValueError, match="non-empty"):
        blocklist_filter(docs, [])
    with pytest.raises(ValueError, match="single non-empty tokens"):
        blocklist_filter(docs, ["two words"])
    with pytest.raises(ValueError, match="max_hits"):
        blocklist_filter(docs, ["spam"], max_hits=-1)
    # zero-exchange plan: pure projection/filter
    plan = blocklist_filter(docs, terms)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
