"""Unit tests for the pure-Python dissect tokenizer.

Mirrors the reference's table-driven tests
(``libbeat/processors/dissect/dissect_test.go``) and, when the read-only
reference checkout is present, replays its JSON corpus
(``libbeat/processors/dissect/testdata/dissect_tests.json``) for
byte-identical parity. Only ``TestRegexFastPath`` starts Spark: it holds
the Catalyst form of the tokenizer to the find() loop.
"""

import json
import os

import pytest

from beats_spark.dissect.tokenizer import (
    Dissector,
    DissectError,
    TokenizerError,
    convert_value,
)
from dissect_reference import assert_catalyst_matches

REF_CORPUS = "/root/reference/libbeat/processors/dissect/testdata/dissect_tests.json"


def dis(tok, s, **kw):
    return Dissector(tok, **kw).dissect(s)


class TestBasics:
    def test_two_fields(self):
        assert dis("%{a} %{b}", "hello world") == {"a": "hello", "b": "world"}

    def test_leading_delimiter_must_match(self):
        with pytest.raises(DissectError):
            dis("x=%{a}", "y=1")

    def test_leading_delimiter(self):
        assert dis("x=%{a}", "x=1") == {"a": "1"}

    def test_trailing_delimiter(self):
        assert dis("[%{a}]", "[core]") == {"a": "core"}

    def test_empty_string_fails(self):
        with pytest.raises(DissectError):
            dis("%{a}", "")

    def test_missing_delimiter_fails(self):
        with pytest.raises(DissectError):
            dis("%{a} - %{b}", "no dash here")

    def test_empty_value_between_adjacent_delims(self):
        assert dis("%{a},%{b},%{c}", "1,,3") == {"a": "1", "b": "", "c": "3"}

    def test_remaining_data_ignored_after_trailing_delim(self):
        # reference corpus case: captured fields stop at last delimiter
        got = dis('msg="%{m}"', 'msg="hi" extra')
        assert got == {"m": "hi"}


class TestSkipAndPointer:
    def test_skip(self):
        assert dis("%{} %{b}", "hello world") == {"b": "world"}

    def test_named_skip_not_emitted(self):
        assert dis("%{?a} %{b}", "hello world") == {"b": "world"}

    def test_indirect_from_named_skip(self):
        assert dis("%{?key} %{&key}", "hello world") == {"hello": "world"}

    def test_pointer_indirect(self):
        assert dis("%{*key}: %{&key}", "status: ok") == {"status": "ok"}

    def test_indirect_without_reference_invalid(self):
        with pytest.raises(TokenizerError):
            Dissector("%{&key} %{b}")


class TestAppend:
    def test_append_default_order(self):
        assert dis("%{+key} %{+key}", "hello world") == {"key": "hello world"}

    def test_append_with_ordinals(self):
        assert dis("%{+key/2} %{+key/1}", "hello world") == {"key": "world hello"}

    def test_append_join_uses_previous_delimiter(self):
        # join string = delimiter preceding the appending token
        # (field.go:318-324)
        assert dis("%{+key}-%{+key}", "a-b") == {"key": "a-b"}

    def test_mixed_prefix_invalid(self):
        with pytest.raises(TokenizerError):
            Dissector("%{+&key} %{b}")
        with pytest.raises(TokenizerError):
            Dissector("%{&+key} %{b}")


class TestGreedyPadding:
    def test_greedy_right_padding(self):
        assert dis("%{a->} %{b}", "foo      bar") == {"a": "foo", "b": "bar"}

    def test_greedy_middle(self):
        got = dis("%{id} %{function->} %{server}",
                  "00000043 ViewReceive     machine-321")
        assert got == {"id": "00000043", "function": "ViewReceive",
                       "server": "machine-321"}

    def test_greedy_trailing(self):
        got = dis("%{id} %{function} %{server->} ",
                  "00000043 ViewReceive machine-321    ")
        assert got == {"id": "00000043", "function": "ViewReceive",
                       "server": "machine-321"}

    def test_greedy_fixed_length_append(self):
        got = dis("%{+key/3#1}%{+key/1#1->} %{+key/2}", "12    3")
        assert got == {"key": "2 3 1"}


class TestFixedLength:
    def test_fixed_length(self):
        assert dis("%{a#5} %{b}", "12345 rest") == {"a": "12345", "b": "rest"}

    def test_fixed_length_overrun_fails(self):
        with pytest.raises(DissectError):
            dis("%{a#9}", "12")


class TestTrim:
    def test_trim_all(self):
        got = dis("%{a},%{b}", " one , two ", trim_values="all")
        assert got == {"a": "one", "b": "two"}

    def test_trim_left_only(self):
        got = dis("%{a},%{b}", " one , two ", trim_values="left")
        assert got == {"a": "one ", "b": "two "}

    def test_trim_custom_chars(self):
        got = dis("%{a},%{b}", "_one_,_two_", trim_values="all", trim_chars="_")
        assert got == {"a": "one", "b": "two"}


class TestConvert:
    def test_types(self):
        d = Dissector("%{n|integer} %{x|float} %{ok|boolean} %{ip|ip} %{s}")
        got = d.dissect_convert("42 1.5 true 10.0.0.1 str")
        assert got == {"n": 42, "x": 1.5, "ok": True, "ip": "10.0.0.1", "s": "str"}

    def test_hex_int(self):
        assert convert_value("long", "0xFF") == 255
        assert convert_value("integer", "0x10") == 16

    def test_conversion_failure_keeps_string(self):
        assert convert_value("integer", "notanint") == "notanint"
        assert convert_value("ip", "999.1.1.1") == "999.1.1.1"

    def test_missing_datatype_invalid(self):
        with pytest.raises(TokenizerError):
            Dissector("%{a|} %{b}")
        with pytest.raises(TokenizerError):
            Dissector("%{a|nope} %{b}")


@pytest.mark.skipif(not os.path.exists(REF_CORPUS), reason="reference absent")
def test_reference_corpus_parity():
    """Replay the reference tokenizer corpus byte-for-byte."""
    with open(REF_CORPUS) as f:
        cases = json.load(f)
    ran = 0
    for case in cases:
        if case.get("skip"):
            continue
        tok, msg = case["tok"], case["msg"]
        expected = case["expected"]
        fail = case.get("fail", False)
        try:
            got = Dissector(tok).dissect(msg)
        except (DissectError, TokenizerError):
            assert fail, f"{case['name']}: unexpected failure tok={tok!r}"
            ran += 1
            continue
        assert not fail, f"{case['name']}: expected failure, got {got}"
        assert got == expected, f"{case['name']}: {got} != {expected}"
        ran += 1
    assert ran >= 20


class TestRegexFastPath:
    """The Catalyst dissect (``dissect_columns``) must agree
    byte-for-byte with the find() loop."""

    CASES = [
        ('ts=%{ts} level=%{level} host=%{host} bytes=%{b|long} msg="%{m}"',
         ['ts=2024-01-01T00:00:00Z level=info host=h bytes=12 msg="hi"',
          'ts=1 level=2 host=3 bytes=4 msg="a b c"\n  cont line',
          '!!corrupt', '', 'ts=x level=y', 'ts= level= host= bytes= msg=""']),
        ("%{a} %{b}", ["hello world", "a b c", "x", "", " leading"]),
        ("%{a}-%{}-%{c}", ["1-2-3", "1-2-3-4", "1-2", "--"]),
        ("pre: %{x}", ["pre: tail here", "nope", "pre: ", "pre:"]),
    ]

    def test_equivalence(self, spark):
        for pat, samples in self.CASES:
            assert_catalyst_matches(spark, Dissector(pat), samples)

    def test_unsupported_patterns_fall_back(self, spark):
        """Greedy, fixed-length, append, indirect and named-skip
        tokenizers run the same Catalyst form."""
        samples = [None, "", "x y", "x   y", "abcdef", "k v", "x", "a  b c"]
        for pat in ("%{a->} %{b}", "%{a#3}%{b}", "%{+a} %{+a}",
                    "%{*ref} %{&ref}", "%{?skip} %{b}"):
            assert_catalyst_matches(spark, Dissector(pat), samples)
