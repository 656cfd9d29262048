"""Run the reference's OWN dissect test corpus
(`libbeat/processors/dissect/testdata/dissect_tests.json`) through our
tokenizer — loaded from the read-only reference checkout at test time,
so parity is checked against the upstream ground truth without copying
any content into this repo. Skipped when the reference isn't mounted.
"""

import json
import os

import pytest

from beats_spark.dissect.tokenizer import Dissector, DissectError
from dissect_reference import catalyst_keys, typed_reference

CORPUS = ("/root/reference/libbeat/processors/dissect/testdata/"
          "dissect_tests.json")


def _cases():
    if not os.path.exists(CORPUS):
        return []
    with open(CORPUS) as f:
        return [c for c in json.load(f) if not c.get("skip")]


CASES = _cases()


@pytest.mark.skipif(not CASES, reason="reference corpus not mounted")
@pytest.mark.parametrize(
    "case", CASES, ids=[c["name"][:60].replace(" ", "_") for c in CASES])
def test_reference_corpus_case(case):
    d = Dissector(case["tok"])
    if case["expected"] is None:     # corpus marks must-fail cases
        with pytest.raises(DissectError):
            d.dissect(case["msg"])
        return
    got = d.dissect(case["msg"])
    assert got == case["expected"], case["name"]


@pytest.mark.skipif(not CASES, reason="reference corpus not mounted")
def test_reference_corpus_fast_path_agrees(spark):
    """The Catalyst dissect must match the corpus ground truth too, on
    every case."""
    checked = 0
    for case in CASES:
        d = Dissector(case["tok"])
        [got] = catalyst_keys(spark, d, [case["msg"]])
        want = case["expected"]
        if want is not None:
            want = {k: typed_reference(d.data_types.get(k), want.get(k))
                    for k in d.keys}
        assert got == want, case["name"]
        checked += 1
    assert checked >= 5
