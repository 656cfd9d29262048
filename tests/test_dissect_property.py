"""Property-based equivalence: for every pattern of normal and skip
fields and arbitrary input, the Catalyst dissect (`dissect_columns`)
must agree exactly with the find()-loop tokenizer — including failure
cases. `test_dissect_fields_property` covers the other field kinds."""

from hypothesis import given, settings, strategies as st

from beats_spark.dissect.tokenizer import Dissector
from dissect_reference import assert_catalyst_matches

# delimiters drawn from realistic log punctuation (non-empty)
_delim = st.text(alphabet=" =,;|/:[]()#\"'", min_size=1, max_size=4)
_key = st.sampled_from(["a", "b", "c", "d", "msg", ""])  # "" = skip field


@st.composite
def patterns(draw):
    n = draw(st.integers(min_value=1, max_value=4))
    parts = [draw(_delim)]                # leading delimiter (may differ)
    keys = draw(st.lists(_key, min_size=n, max_size=n))
    for i, k in enumerate(keys):
        parts.append("%{" + k + "}")
        if i < n - 1:
            parts.append(draw(_delim))
    if draw(st.booleans()):
        parts.append(draw(_delim))        # optional trailing literal
    return "".join(parts)


_msg = st.text(alphabet=" =,;|/:[]()#\"'abcdxyz\n\t0123456789",
               max_size=60)


def _dissector(pat):
    try:
        return Dissector(pat)
    except Exception:
        return None  # invalid tokenizer — both paths nonexistent


@settings(max_examples=300, deadline=None)
@given(pat=patterns(), msg=_msg)
def test_fast_path_equals_find_loop(spark, pat, msg):
    d = _dissector(pat)
    if d is not None:
        assert_catalyst_matches(spark, d, [msg])


@settings(max_examples=100, deadline=None)
@given(pat=patterns(), msgs=st.lists(_msg, min_size=1, max_size=5))
def test_fast_path_pandas_batch(spark, pat, msgs):
    """The Catalyst form over a batch of messages agrees with per-row
    dissect_safe."""
    d = _dissector(pat)
    if d is not None:
        assert_catalyst_matches(spark, d, msgs)
