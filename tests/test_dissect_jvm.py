"""The ``dissect`` processor runs a tokenizer that ``Dissector.to_regex``
expresses as Catalyst expressions (``dissect_columns``), with no Python
node in the plan. These tests hold it to the pandas UDF it falls back to
for the other tokenizers, on edge-case messages and frames."""

import pytest
from pyspark.sql import functions as F

from beats_spark.config import load_pipeline
from beats_spark.dissect import Dissector, apply_dissect
from beats_spark.lookup import local_frame

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")

# skip fields, a key named twice, a trailing literal and every |type
# the cast covers
TYPED = ("%{a} %{} <%{n|integer}> %{l|long} %{ok|boolean} %{addr|ip} "
         "%{a}.")
MESSAGES = [
    None, "", "no match", "x y <1> 2 true 10.0.0.1 z.",
    "x y <0x1F> 0X7fffffffffffffff t ::1 second.",
    "x y <2147483648> 9223372036854775808 yes 999.1.1.1 z.",
    "x y <-2147483648> -9223372036854775808 F host last. tail",
    "x y <0x> 12x 0 1.2.3.4 z.",
    "first\nline y <7> 8 False fe80::1 multi\nline.",
    "x y <1 > 2  TRUE 10.0.0.1  z.",
]
TEXT = "ts=%{ts} msg=%{msg}"
TEXTS = [None, "", "ts=1 msg=hi", "ts= msg=", "ts=2\nmsg=no",
         "ts=3 msg=a\nb c", "msg=only"]


def plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def frame(spark, messages, extra_ddl="", extra=()):
    rows = [(i, m, *extra) for i, m in enumerate(messages)]
    return local_frame(spark, rows, "id int, message string" + extra_ddl)


def fallback(df, *args, **kwargs):
    """``apply_dissect`` through its pandas UDF: the tokenizer as if no
    regex expressed it."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(Dissector, "to_regex", lambda self: None)
        return apply_dissect(df, *args, **kwargs)


def assert_same(got, want):
    assert got.schema == want.schema
    assert got.orderBy("id").collect() == want.orderBy("id").collect()


def test_typed_tokenizer_matches_udf(spark):
    df = frame(spark, MESSAGES)
    got = apply_dissect(df, TYPED)
    want = fallback(df, TYPED)
    for node in PYTHON_NODES:
        assert node not in plan(got), node
    assert "ArrowEvalPython" in plan(want)
    assert_same(got, want)
    by = {r.id: r for r in got.collect()}
    assert by[0].log_flags == by[1].log_flags == by[2].log_flags \
        == ["dissect_parsing_error"]
    assert (by[3].dissect_a, by[3].dissect_n, by[3].dissect_ok) == \
        ("z", 1, True)
    assert (by[4].dissect_n, by[4].dissect_l) == (31, 2 ** 63 - 1)
    assert (by[5].dissect_n, by[5].dissect_l, by[5].dissect_ok,
            by[5].dissect_addr) == (None, None, None, None)
    assert by[8].dissect_a == "multi\nline" and by[8].log_flags == []


@pytest.mark.parametrize("prefix", ["dissect", ""])
@pytest.mark.parametrize("overwrite", [False, True])
def test_clashing_columns_and_flags_match_udf(spark, prefix, overwrite):
    clash = f"{prefix}_msg" if prefix else "msg"
    df = frame(spark, TEXTS, f", {clash} string, log_flags array<string>",
               ("kept", ["prior"]))
    df = df.withColumn("log_flags", F.when(F.col("id") % 2 == 0,
                                           F.col("log_flags")))
    got = apply_dissect(df, TEXT, target_prefix=prefix,
                        overwrite_keys=overwrite)
    want = fallback(df, TEXT, target_prefix=prefix, overwrite_keys=overwrite)
    for node in PYTHON_NODES:
        assert node not in plan(got), node
    assert_same(got, want)
    rows = got.orderBy("id").collect()
    assert (rows[2][clash] == "hi") is overwrite
    assert rows[0].log_flags == ["prior", "dissect_parsing_error"]
    assert rows[1].log_flags == ["dissect_parsing_error"]
    assert rows[2].log_flags == ["prior"] and rows[3].log_flags is None


@pytest.mark.parametrize("tokenizer, kwargs", [
    ("%{a} %{b}", {"trim_values": "all"}),
    ("%{+a} %{+a}", {}),
])
def test_tokenizers_no_regex_expresses_keep_the_udf(spark, tokenizer, kwargs):
    df = frame(spark, [None, "", " x  y ", "x y z"])
    got = apply_dissect(df, tokenizer, **kwargs)
    assert "ArrowEvalPython" in plan(got)
    assert "__dissect_map" not in got.columns
    d = Dissector(tokenizer, **kwargs)
    for r in got.collect():
        kv = d.dissect_safe(r.message)
        assert r.log_flags == ([] if kv else ["dissect_parsing_error"])
        assert r.dissect_a == (kv["a"] if kv else None)


def test_ordinal_keys_are_left_to_the_udf():
    # the find() loop assigns a repeated key in ordinal order, not in
    # token order, which a regex's groups do not follow
    assert Dissector("%{a/2} %{a/1}").to_regex() is None
    assert Dissector("%{a/2} %{a/1}").dissect("x y") == {"a": "x"}


CONFIG = """
processors:
  - dissect:
      tokenizer: "%{level} %{msg}"
      target_prefix: ""
output.elasticsearch:
  index: "logs-%{[level]}"
  indices:
    - index: "errors"
      when:
        equals:
          level: "ERROR"
"""


def test_config_dissect_plans_no_python_node(spark):
    df = frame(spark, ["ERROR boom", "info fine", "nospace"])
    out = load_pipeline(CONFIG)(df)
    for node in PYTHON_NODES:
        assert node not in plan(out), node
    # a failed parse leaves level null: the index format has no value
    assert {r.id: r.sink for r in out.collect()} == \
        {0: "errors", 1: "logs-info", 2: None}
