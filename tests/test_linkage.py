"""Record linkage: blocked candidates + levenshtein + best-match."""

import pytest

from beats_analytics.linkage import blocked_link


def _frames(spark):
    clean = spark.createDataFrame(
        [(1, "acme corp"), (2, "acme corpse"), (3, "zenith ltd")],
        "id bigint, name string")
    dirty = spark.createDataFrame(
        [(10, "acme crop"),     # transposition: lev 2 to both acme rows
         (11, "zenith ltd"),    # exact
         (12, "XXnith ltd"),    # corrupted INSIDE the blocking prefix
         (13, "totally else")],
        "id bigint, name string")
    return dirty, clean


def test_blocked_link_best_match(spark):
    dirty, clean = _frames(spark)
    out = {r["dirty_id"]: (r["clean_id"], r["lev"])
           for r in blocked_link(dirty, clean).collect()}
    # lev("acme crop","acme corp")=2, ("acme crop","acme corpse")=4 → id 1
    assert out[10] == (1, 2)
    assert out[11] == (3, 0)
    # the documented blocking-recall bound: a corruption inside the
    # prefix moves the record to another block — no link
    assert 12 not in out
    assert 13 not in out                      # beyond max_dist
    assert len(out) == 2


def test_blocked_link_all_matches_and_ties(spark):
    dirty, clean = _frames(spark)
    rows = blocked_link(dirty, clean, max_dist=4, best_only=False) \
        .collect()
    got = {(r["dirty_id"], r["clean_id"], r["lev"]) for r in rows}
    assert (10, 1, 2) in got and (10, 2, 4) in got
    # ties break by min clean_id under best_only
    clean2 = clean.union(spark.createDataFrame(
        [(0, "acme corp")], "id bigint, name string"))
    best = {r["dirty_id"]: r["clean_id"]
            for r in blocked_link(dirty, clean2).collect()}
    assert best[10] == 0


def test_blocked_link_validates_prefix(spark):
    dirty, clean = _frames(spark)
    with pytest.raises(ValueError, match="prefix_len"):
        blocked_link(dirty, clean, prefix_len=0)
