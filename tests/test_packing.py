"""Sequence packing (beats_analytics/packing.py): concat-split arithmetic,
greedy first-fit semantics, oversized docs, shard isolation,
determinism under partitioning."""

from pyspark.sql import functions as F

from beats_analytics.packing import pack_concat, pack_greedy


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "lang string, doc_id long, n_tokens long")


def test_pack_concat_bins_and_offsets(spark):
    df = _df(spark, [("en", 1, 300), ("en", 2, 300), ("en", 3, 100)])
    got = {r["doc_id"]: (r["bin"], r["bin_offset"])
           for r in pack_concat(df, 512, shard_col="lang").collect()}
    # token stream: doc1 [0,300), doc2 [300,600) -> starts in bin 0 at
    # offset 300 (spans into bin 1), doc3 starts at 600 -> bin 1
    assert got == {1: (0, 0), 2: (0, 300), 3: (1, 88)}


def test_pack_greedy_first_fit_and_oversize(spark):
    df = _df(spark, [("en", 1, 300), ("en", 2, 300), ("en", 3, 100),
                     ("en", 4, 900), ("en", 5, 10)])
    got = {r["doc_id"]: r["bin"]
           for r in pack_greedy(df, 512, shard_col="lang").collect()}
    # doc2 doesn't fit with doc1; doc3 joins doc2; oversized doc4 gets
    # its own bin; doc5 opens the next
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_greedy_bins_respect_budget_except_oversize(spark):
    import random
    rnd = random.Random(3)
    rows = [("en", i, rnd.randint(20, 700)) for i in range(200)]
    df = _df(spark, rows)
    out = pack_greedy(df, 512, shard_col="lang")
    per_bin = (out.groupBy("bin")
               .agg(F.sum("n_tokens").alias("t"),
                    F.count(F.lit(1)).alias("k")).collect())
    for r in per_bin:
        assert r["t"] <= 512 or r["k"] == 1  # only oversized singletons


def test_shards_pack_independently(spark):
    df = _df(spark, [("en", 1, 500), ("de", 2, 500), ("en", 3, 500)])
    got = {r["doc_id"]: r["bin"]
           for r in pack_greedy(df, 512, shard_col="lang").collect()}
    assert got == {1: 0, 2: 0, 3: 1}


def test_deterministic_under_partitioning(spark):
    import random
    rnd = random.Random(5)
    rows = [(["en", "de"][i % 2], i, rnd.randint(10, 600))
            for i in range(300)]
    df = _df(spark, rows)
    a = {r["doc_id"]: r["bin"]
         for r in pack_greedy(df, 512, shard_col="lang").collect()}
    b = {r["doc_id"]: r["bin"]
         for r in pack_greedy(df.repartition(7), 512,
                              shard_col="lang").collect()}
    assert a == b
    c = {r["doc_id"]: (r["bin"], r["bin_offset"]) for r in
         pack_concat(df, 512, shard_col="lang").collect()}
    d = {r["doc_id"]: (r["bin"], r["bin_offset"]) for r in
         pack_concat(df.repartition(7), 512, shard_col="lang").collect()}
    assert c == d


def test_chunk_tokens_known_values(spark):
    from pyspark.sql import functions as F
    from beats_analytics.packing import chunk_tokens
    df = spark.createDataFrame(
        [("a", "t1 t2 t3 t4 t5 t6 t7"),   # 7 toks: w=3 s=2 -> 3 chunks
         ("b", "x y"),                    # fits one window
         ("c", ""),                       # 0 tokens -> 0 chunks
         ("d", "p q r")],                 # exactly one window
        ["doc_id", "text"])
    out = chunk_tokens(df, window=3, stride=2)
    got = [(r["doc_id"], r["chunk_id"], r["n_tokens"], r["chunk_text"])
           for r in out.orderBy("doc_id", "chunk_id").collect()]
    assert got == [
        ("a", 0, 3, "t1 t2 t3"), ("a", 1, 3, "t3 t4 t5"),
        ("a", 2, 3, "t5 t6 t7"),
        ("b", 0, 2, "x y"),
        ("d", 0, 3, "p q r")]
    # every token lands in >=1 chunk when stride <= window: the
    # chunks of 'a' jointly cover all 7 tokens
    toks = set(" ".join(t for _, _, _, t in got[:3]).split())
    assert toks == {f"t{i}" for i in range(1, 8)}
    # zero Python / zero shuffle: pure generator projection
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
    # stride > window is allowed but gaps tokens; window<1 rejected
    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_tokens(df, window=0, stride=2)


def test_passage_chunks_sentence_boundaries(spark):
    """Passages never cut sentences; bucketing by cumulative start
    offset at target pitch; a giant sentence is its own passage;
    empty/NULL docs vanish; passage_id dense when buckets skip."""
    from beats_analytics.packing import passage_chunks
    df = spark.createDataFrame(
        [(1, "One short. Another sentence here! A third one? "
             "And a fourth sentence that is longer than the rest. Tail"),
         (2, ""), (3, None),
         (4, "x" * 500 + ". after giant")],
        "doc_id long, text string")
    rows = passage_chunks(df, target_chars=60).collect()
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], []).append(r)
    ids = {d: sorted(r["passage_id"] for r in v) for d, v in by.items()}
    assert 2 not in by and 3 not in by
    # every passage is a join of whole sentences (ends with . ! ? or
    # the doc-final fragment), none empty
    for r in rows:
        assert r["n_chars"] == len(r["passage"]) > 0
        assert r["n_sents"] >= 1
    # giant sentence: own passage, not split; ids dense 0..k
    d4 = sorted(by[4], key=lambda r: r["passage_id"])
    assert d4[0]["passage"].startswith("xxxx") and d4[0]["n_sents"] == 1
    assert d4[1]["passage"] == "after giant"
    assert ids[4] == [0, 1] and ids[1] == list(range(len(ids[1])))
    # reconstruction: concatenating passages in order re-yields every
    # sentence in document order
    d1 = sorted(by[1], key=lambda r: r["passage_id"])
    joined = " ".join(r["passage"] for r in d1)
    assert joined.startswith("One short. Another sentence here!")
    assert joined.endswith("Tail")
