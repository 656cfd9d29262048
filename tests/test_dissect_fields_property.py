"""Property test: the Catalyst dissect (`dissect_columns`) against the
find() loop (`Dissector.dissect_safe` + `convert_value`) for every field
kind — skip, named skip, pointer/indirect, append with `/ordinal`,
fixed length `#N`, greedy `->`, `|type` — and every trim mode.

Messages are built from each tokenizer's own delimiters, so they hold
delimiters repeated inside fields and as greedy padding, empty fields,
newlines and characters outside the BMP, next to random text. One Spark
query checks a tokenizer's whole batch of messages."""

from hypothesis import HealthCheck, assume, given, settings, strategies as st

from beats_spark.dissect.tokenizer import Dissector, TokenizerError
from dissect_reference import assert_catalyst_matches

_DELIMS = [" ", ",", "=", "::", "😀", "\n", " - ", "ab", "aa"]
_TEXT = " ,=:-ab😀\nxyz"
_TYPED = ["12", "-7", "0x1F", "-0x1f", "0X", "1_000", "1.5", "1.5f",
          "2d", "1e3", " 3", "-0", "4 ", "true", "F", "0", "1", "yes",
          "99999999999", "0x8000000000000000", "-0x8000000000000000"]
_TYPES = ["integer", "long", "float", "double", "boolean", "string"]


@st.composite
def _field(draw):
    """A field's raw key: its kind, key name and suffixes."""
    key = draw(st.sampled_from(["a", "b", "c"]))
    kind = draw(st.sampled_from(
        ["", "?", "*", "&", "+", "plain", "typed"]))
    if kind == "":
        return ""
    raw = (kind if kind in "?*&+" else "") + key
    if kind in ("+", "plain") and draw(st.booleans()):
        raw += f"/{draw(st.integers(1, 3))}"
    if draw(st.integers(0, 3)) == 0:
        raw += f"#{draw(st.integers(1, 3))}"
    if draw(st.booleans()):
        raw += "->"
    if kind == "typed":
        raw += "|" + draw(st.sampled_from(_TYPES))
    return raw


@st.composite
def tokenizers(draw):
    """``(fields, delimiters)``: a leading delimiter, then each field
    followed by its delimiter; the last one is an optional trailing
    literal."""
    fields = draw(st.lists(_field(), min_size=1, max_size=5))
    delims = [draw(st.sampled_from([""] + _DELIMS))]
    for i in range(len(fields)):
        last = i == len(fields) - 1
        delims.append(draw(st.sampled_from(
            ([""] if last else []) + _DELIMS + [""])))
    return fields, delims


def _render(fields, delims):
    parts = [delims[0]]
    for raw, delim in zip(fields, delims[1:]):
        parts += ["%{" + raw + "}", delim]
    return "".join(parts)


def _message(draw, fields, delims):
    """A message that follows the tokenizer's shape: each field's text,
    then its delimiter, with greedy padding and fixed lengths that fit
    or miss."""
    parts = [delims[0]]
    for raw, delim in zip(fields, delims[1:]):
        if "|" in raw and draw(st.booleans()):
            value = draw(st.sampled_from(_TYPED))
        else:
            value = draw(st.text(alphabet=_TEXT + delim, max_size=5))
        if "#" in raw and draw(st.booleans()):
            n = int(raw.split("#")[1][0])
            value = (value + "xyz")[:n]
        parts.append(value)
        copies = 1 + ("->" in raw) * draw(st.integers(0, 3))
        parts.append(delim * copies)
    if draw(st.booleans()):
        parts.append(draw(st.text(alphabet=_TEXT, max_size=4)))
    return "".join(parts)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.filter_too_much,
                                 HealthCheck.too_slow])
@given(tok=tokenizers(),
       trim=st.sampled_from(["none", "left", "right", "all", "both"]),
       trim_chars=st.sampled_from([" ", " ,", "", "😀 ", "a\n"]),
       data=st.data())
def test_every_field_kind_and_trim_matches_find_loop(spark, tok, trim,
                                                     trim_chars, data):
    fields, delims = tok
    try:
        d = Dissector(_render(fields, delims), trim_values=trim,
                      trim_chars=trim_chars)
    except TokenizerError:
        assume(False)
    messages = [None, ""] + [
        _message(data.draw, fields, delims) for _ in range(8)] + \
        data.draw(st.lists(st.text(alphabet=_TEXT, max_size=12),
                           max_size=3))
    assert_catalyst_matches(spark, d, messages)
