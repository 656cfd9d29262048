"""split_sentences and clock_skew unit behavior (oracle parity is in
test_oracle_parity via the sentence_split / clock_skew entries)."""

import datetime as dt

from pyspark.sql import functions as F

from beats_analytics import clock_skew, split_sentences


def test_split_sentences_basic(spark):
    df = spark.createDataFrame([
        (1, "Hello there. Big news!  Ready?? go"),
        (2, "no terminator at all"),
        (3, ""),                       # no sentences → row vanishes
        (4, "Tail space. "),           # trailing fragment trims empty
        (5, None),
    ], "doc_id int, text string")
    got = {(r["doc_id"], r["sent_idx"]): r["sentence"]
           for r in split_sentences(df).collect()}
    assert got == {
        (1, 0): "Hello there.", (1, 1): "Big news!",
        (1, 2): "Ready??", (1, 3): "go",
        (2, 0): "no terminator at all",
        (4, 0): "Tail space.",
    }


def test_split_sentences_keep_empty_docs(spark):
    df = spark.createDataFrame([(1, "One."), (2, ""), (3, None)],
                               "doc_id int, text string")
    out = split_sentences(df, keep_empty_docs=True)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["sentence"] == "One."
    assert rows[2]["sentence"] is None and rows[2]["sent_idx"] == 0
    assert rows[3]["sentence"] is None


def test_split_sentences_index_survives_empty_fragment_filter(spark):
    # fragment 1 trims to empty → dropped, but fragment 2 keeps its
    # original document-order index
    df = spark.createDataFrame([(1, "A.   \t\n. B.")],
                               "doc_id int, text string")
    got = [(r["sent_idx"], r["sentence"])
           for r in split_sentences(df).orderBy("sent_idx").collect()]
    assert got == [(0, "A."), (1, "."), (2, "B.")]


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_clock_skew_median_and_flag(spark):
    base = _ts("2026-01-01 00:00:00")
    rows = []
    # host a: offsets 100, 200, 300 ms → median 200, not skewed
    for i, ms in enumerate((100, 200, 300)):
        rows.append(("a", base, base + dt.timedelta(milliseconds=ms)))
    # host b: constant -90s → skewed, negative
    for i in range(2):
        rows.append(("b", base, base - dt.timedelta(seconds=90)))
    df = spark.createDataFrame(
        rows, "host string, ev timestamp, rv timestamp")
    got = {r["host"]: r for r in
           clock_skew(df, "host", "ev", "rv").collect()}
    assert got["a"]["n_events"] == 3
    assert got["a"]["median_offset_ms"] == 200.0
    assert got["a"]["skewed"] is False
    assert got["b"]["median_offset_ms"] == -90000.0
    assert got["b"]["skewed"] is True


def test_clock_skew_even_count_interpolates(spark):
    base = _ts("2026-01-01 00:00:00")
    rows = [("h", base, base + dt.timedelta(milliseconds=ms))
            for ms in (0, 100)]
    df = spark.createDataFrame(
        rows, "host string, ev timestamp, rv timestamp")
    r = clock_skew(df, "host", "ev", "rv").first()
    assert r["median_offset_ms"] == 50.0
