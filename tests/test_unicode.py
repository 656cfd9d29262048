"""Unicode normalization (beats_analytics.unicode)."""
import duckdb
from pyspark.sql import functions as F

from beats_analytics import (
    clean_text_column, unicode_clean, unicode_clean_sql,
)


def _clean(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    return [r.c for r in
            df.select(unicode_clean(F.col("t")).alias("c")).collect()]


def test_nfc_composition_and_stability(spark):
    got = _clean(spark, ["étude",     # decomposed -> é
                         "étude",      # already NFC: unchanged
                         "ﬁle"])       # NFC keeps ligature ﬁ
    assert got == ["étude", "étude", "ﬁle"]


def test_controls_zero_widths_spaces(spark):
    got = _clean(spark, ["a\x07b\x1fc",          # C0 controls out
                         "a​b‍c﻿d",  # zero-widths out
                         "a b c　d",  # spaces -> ' '
                         "keep\tthese\nnewlines\r"])
    assert got == ["abc", "abcd", "a b c d", "keep\tthese\nnewlines\r"]


def test_null_passthrough_and_dataframe_form(spark):
    df = spark.createDataFrame([(1, None), (2, " x́ ")],
                               "id long, text string")
    out = {r.id: r.text for r in clean_text_column(df).collect()}
    assert out[1] is None and out[2] == " x́".replace(
        "x́", "x́") + " "  # combining on x: NFC has no composite
    assert out[2] == " x́ "


def test_sql_emitter_replays_chain(spark):
    messy = "é A\x07B​C D"
    (spark_got,) = _clean(spark, [messy])
    duck_got, = duckdb.connect().execute(
        "SELECT " + unicode_clean_sql("'" + messy + "'")).fetchone()
    assert spark_got == duck_got == "é ABC D"
