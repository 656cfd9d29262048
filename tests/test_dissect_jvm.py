"""The ``dissect`` processor and the shipped parse run every tokenizer
as Catalyst expressions (``dissect_columns``), with no Python node and,
in the shipped plan, no regex. These tests hold that form to the Python
reference (``Dissector.dissect_safe`` + ``convert_value``) on edge-case
messages and frames."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beats_spark import fixtures
from beats_spark.config import load_pipeline
from beats_spark.dissect import (Dissector, apply_dissect, cast_for,
                                 convert_value)
from beats_spark.lookup import local_frame
from beats_spark.pipeline import build_routed
from dissect_reference import (PYTHON_NODES, assert_catalyst_matches, plan,
                               reference_apply, typed_reference)

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
    "x y <-0x1F> 1_000 1 10.0.0.1 z.",
    "x y <0x1F1F1F1F1F1F1F1F1F> -0x8000000000000000 0 ::1 z.",
]
TEXT = "ts=%{ts} msg=%{msg}"
TEXTS = [None, "", "ts=1 msg=hi", "ts= msg=", "ts=2\nmsg=no",
         "ts=3 msg=a\nb c", "msg=only"]
_TYPES = {"integer": T.IntegerType(), "long": T.LongType(),
          "boolean": T.BooleanType()}


def frame(spark, messages, extra_ddl="", extra=()):
    rows = [(i, m, *extra) for i, m in enumerate(messages)]
    return local_frame(spark, rows, "id int, message string" + extra_ddl)


def assert_reference(got, df, tokenizer, **kwargs):
    """``got`` is ``apply_dissect(df, tokenizer, **kwargs)`` as the
    reference computes it, with no Python node in its plan: its rows,
    its column order and each key column's type."""
    for node in PYTHON_NODES:
        assert node not in plan(got), node
    rows = [r.asDict() for r in df.orderBy("id").collect()]
    want = reference_apply(rows, tokenizer, **kwargs)
    assert got.columns == list(want[0])
    assert [r.asDict() for r in got.orderBy("id").collect()] == want
    d = Dissector(tokenizer)
    prefix = kwargs.get("target_prefix", "dissect")
    for k in d.keys:
        name = f"{prefix}_{k}" if prefix else k
        if name not in df.columns or kwargs.get("overwrite_keys"):
            want_type = _TYPES.get(d.data_types.get(k), T.StringType())
            assert got.schema[name].dataType == want_type, name
    assert got.schema["log_flags"].dataType == T.ArrayType(T.StringType())


def test_typed_tokenizer_matches_udf(spark):
    df = frame(spark, MESSAGES)
    got = apply_dissect(df, TYPED)
    assert_reference(got, df, TYPED)
    by = {r.id: r for r in got.collect()}
    assert by[0].log_flags == by[1].log_flags == by[2].log_flags \
        == ["dissect_parsing_error"]
    assert (by[3].dissect_a, by[3].dissect_n, by[3].dissect_ok) == \
        ("z", 1, True)
    assert (by[4].dissect_n, by[4].dissect_l) == (31, 2 ** 63 - 1)
    assert (by[5].dissect_n, by[5].dissect_l, by[5].dissect_ok,
            by[5].dissect_addr) == (None, None, None, None)
    assert by[8].dissect_a == "multi\nline" and by[8].log_flags == []
    assert (by[10].dissect_n, by[10].dissect_l) == (-31, None)
    assert (by[11].dissect_n, by[11].dissect_l) == (None, -2 ** 63)


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
    assert_reference(got, df, TEXT, target_prefix=prefix,
                     overwrite_keys=overwrite)
    rows = got.orderBy("id").collect()
    assert (rows[2][clash] == "hi") is overwrite
    assert rows[0].log_flags == ["prior", "dissect_parsing_error"]
    assert rows[1].log_flags == ["dissect_parsing_error"]
    assert rows[2].log_flags == ["prior"] and rows[3].log_flags is None


@pytest.mark.parametrize("tokenizer, kwargs", [
    ("%{a} %{b}", {"trim_values": "all"}),
    ("%{+a} %{+a}", {}),
])
def test_tokenizers_no_regex_expresses_plan_no_python_node(
        spark, tokenizer, kwargs):
    df = frame(spark, [None, "", " x  y ", "x y z", "x\ny  z\n"])
    got = apply_dissect(df, tokenizer, **kwargs)
    assert_reference(got, df, tokenizer, **kwargs)


def test_ordinal_keys_follow_the_find_loop(spark):
    # the find() loop assigns a repeated key in ordinal order, not in
    # token order, and joins an append key in ordinal order
    assert Dissector("%{a/2} %{a/1}").dissect("x y") == {"a": "x"}
    for tokenizer in ("%{a/2} %{a/1}", "%{+a/2} %{+a/1} %{+a/3}"):
        df = frame(spark, ["x y z", "x y", "x"])
        assert_reference(apply_dissect(df, tokenizer), df, tokenizer)


@pytest.mark.parametrize("tokenizer, kwargs, messages", [
    ("%{a->} %{b}", {}, ["x    y", "x y", "xy", "x  "]),
    ("%{a->}ab%{b}", {}, ["xababababy", "xabay", "xab", "abababab"]),
    ("%{a#3}%{b}", {}, ["abcdef", "ab", "abc"]),
    ("%{a} %{b#2}", {}, ["x yz", "x yzw", "x y"]),
    ("%{a#3}-%{b}", {}, ["abc", "abc-", "abc-d", "ab"]),
    ("%{*p} %{&p} %{a}", {}, ["a v w", "b v w", "p v w", "a v"]),
    ("%{?x} %{&x}/%{+y} %{+y}", {}, ["y v/w z", "q v/w z"]),
    ("%{+a/2} %{+a/1}->%{b#1}", {}, ["x y->z", "x y->zz"]),
    ("<%{a}>%{b}", {"trim_values": "left", "trim_chars": " <"},
     ["< x>  y ", "<x>y"]),
    ("%{a},%{b}", {"trim_values": "right", "trim_chars": ""},
     ["x ,y ", ",", "x,"]),
    ("%{a}😀%{b->}😀😀%{c}", {"trim_values": "both", "trim_chars": "😀 "},
     ["😀x😀y😀😀😀😀😀z😀", " x 😀 y 😀😀 z "]),
])
def test_every_field_kind_matches_reference(spark, tokenizer, kwargs,
                                            messages):
    assert_catalyst_matches(spark, Dissector(tokenizer, **kwargs),
                            [None, ""] + messages)


def test_typed_conversion_follows_the_reference(spark):
    """A signed 0x prefix, Java's float suffix and Python's digit
    separator: both paths read each as Go's strconv does."""
    cases = [("long", "-0x1F", -31), ("double", "1.5f", None),
             ("long", "1_000", None), ("integer", "-0X80000000", -2 ** 31),
             ("double", "0x1p3", None), ("double", "-Infinity",
                                         float("-inf")),
             ("double", "iNf", float("inf")), ("double", "2d", None),
             ("double", "1_0.5", None), ("long", "0x 1F", None)]
    df = local_frame(spark, [(v,) for _, v, _ in cases], "v string")
    got = df.select(*(cast_for(t, F.col("v")).alias(f"c{i}")
                      for i, (t, _, _) in enumerate(cases))).collect()
    for i, (data_type, value, want) in enumerate(cases):
        assert typed_reference(data_type, value) == want, value
        assert got[i][f"c{i}"] == want, value
    assert convert_value("long", "1_000") == "1_000"
    assert convert_value("double", "1.5f") == "1.5f"


IP_KEPT = ["::", "::ffff:1.2.3.4", "fe80::1%eth0", "1:2:3:4:5:6:7::",
           "::2:3:4:5:6:7:8", "1:2:3:4:5:6:1.2.3.4", "0.0.0.0",
           "10.0.0.1  "]
IP_REJECTED = [":x", "01.2.3.4", "1::2::3", "256.1.1.1", ":::", "::1%",
               "::1%a%b", "fe80::1%a/b", "1.2.3.4%eth0", "1.2.3.4\n",
               "1::2:3:4:5:6:7:8", "1:2:3:4:5:6:7:1.2.3.4", "1.2.3"]


def _ip_candidates(n=3000, seed=7):
    """Strings near the address grammar: colon-joined hextets, octets
    (some with a leading zero), empty parts and scope suffixes."""
    import random
    rng = random.Random(seed)
    parts = ["", "0", "1", "ff", "FFFF", "12345", "g", "1.2.3.4",
             "01.2.3.4", "255.255.255.255", "256.0.0.1"]
    out = []
    for _ in range(n):
        s = ":".join(rng.choice(parts) for _ in range(rng.randint(1, 10)))
        if rng.random() < 0.2:
            s += "%" + rng.choice(["eth0", "", "a%b", "x:y", "a/b"])
        out.append(s)
    return out


def test_ip_conversion_follows_the_reference(spark):
    """``cast_for("ip")`` keeps exactly the addresses
    ``ipaddress.ip_address`` accepts: no leading-zero octet, one ``::``
    at most, eight hextets at most, an IPv6 scope only."""
    values = IP_KEPT + IP_REJECTED + _ip_candidates()
    df = local_frame(spark, [(v,) for v in values], "v string")
    got = [r.c for r in df.select(cast_for("ip", F.col("v")).alias("c"))
           .collect()]
    want = [typed_reference("ip", v) for v in values]
    assert [v.rstrip(" ") for v in IP_KEPT] == want[:len(IP_KEPT)]
    assert want[len(IP_KEPT):len(IP_KEPT) + len(IP_REJECTED)] == \
        [None] * len(IP_REJECTED)
    assert [convert_value("ip", v) for v in IP_REJECTED] == IP_REJECTED
    mismatched = [(v, g, w) for v, g, w in zip(values, got, want) if g != w]
    assert not mismatched, mismatched[:10]
    # and through a dissect of an |ip key
    d = Dissector("%{addr|ip}|")
    msgs = [v + "|" for v in IP_KEPT + IP_REJECTED if "|" not in v]
    assert_catalyst_matches(spark, d, msgs)


def _expression_classes(df):
    """The class names of every expression in ``df``'s executed plan."""
    classes = set()

    def walk(node):
        if isinstance(node, dict):
            if "class" in node:
                classes.add(node["class"].rsplit(".", 1)[-1])
            for v in node.values():
                walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)
    walk(json.loads(df._jdf.queryExecution().executedPlan().toJSON()))
    return classes


def test_shipped_plan_runs_no_regex_dissect(spark):
    pages = fixtures.pages(spark, 20)
    routed = build_routed(pages, fixtures.host_meta(spark),
                          fixtures.lang_meta(spark))
    classes = _expression_classes(routed)
    assert {"StringLocate", "StartsWith"} <= classes
    assert not classes & {"RLike", "RegExpExtract", "RegExpReplace"}
    # the multiline split keeps its regex
    assert "StringSplit" in classes


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
