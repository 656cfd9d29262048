"""Sketch operators (beats_analytics/sketch.py) and weighted priority
sampling: semantics (exactness windows, over-estimate-only bounds, no
false negatives), repartition invariance, loud-failure contracts, and
the plan shapes the module's scale claims rest on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_analytics.sketch import (
    bloom_build, bloom_probe, countmin_build, countmin_estimate,
    kmv_distinct,
)
from beats_analytics.sample import priority_sample


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- KMV

def test_kmv_exact_below_k(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = {r["lang"]: (r["est_distinct"], r["is_exact"])
           for r in kmv_distinct(docs, "text", k=10_000,
                                 by="lang").collect()}
    exact = {r["lang"]: r["n"]
             for r in docs.groupBy("lang")
             .agg(F.count_distinct("text").alias("n")).collect()}
    assert set(out) == set(exact)
    for lang, (est, flag) in out.items():
        assert flag is True and est == exact[lang]


def test_kmv_estimator_accuracy_and_partition_invariance(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    k = 32
    a = sorted(map(tuple,
                   kmv_distinct(docs, "text", k=k, by="lang").collect()))
    b = sorted(map(tuple,
                   kmv_distinct(docs.repartition(17), "text", k=k,
                                by="lang").collect()))
    # the union of per-partition bottom-k sets always contains the
    # global bottom-k, so the merged result is layout-independent
    assert a == b
    exact = {r["lang"]: r["n"]
             for r in docs.groupBy("lang")
             .agg(F.count_distinct("text").alias("n")).collect()}
    for lang, est, is_exact in a:
        true = exact[lang]
        if is_exact:
            assert est == true
        else:
            # bottom-k estimator: ~1/sqrt(k) relative error; allow 3σ
            assert abs(est - true) <= max(3 * true / (k ** 0.5), 2), \
                (lang, est, true)


def test_kmv_global_form_and_validation(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    row = kmv_distinct(docs, "lang", k=64).collect()
    assert len(row) == 1
    assert row[0]["is_exact"] is True
    assert row[0]["est_distinct"] == docs.select("lang").distinct().count()
    with pytest.raises(ValueError, match="k must be"):
        kmv_distinct(docs, "text", k=1)
    with pytest.raises(Exception, match="null"):
        # data-driven nulls (a NULL LITERAL would be constant-folded
        # around the in-plan assert)
        kmv_distinct(
            docs.withColumn(
                "text", F.when(F.col("doc_id") % 2 == 0, F.col("text"))),
            "text", k=8).collect()


# ---------------------------------------------------------- count-min

def test_countmin_overestimates_only_and_grid_bound(spark, sf_dir):
    ev = _events(spark, sf_dir)
    w, d = 32, 3
    sk = countmin_build(ev, "user_id", width=w, depth=d, seed="t")
    cells = sk.collect()
    assert len(cells) <= w * d
    # every row of the grid accounts for every input row exactly once
    per_j = {r["j"]: 0 for r in cells}
    for r in cells:
        per_j[r["j"]] += r["cnt"]
    n = ev.count()
    assert all(v == n for v in per_j.values())
    true = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("t"))
    est = countmin_estimate(sk, true.select("user_id"), "user_id",
                            width=w, depth=d, seed="t")
    joined = true.join(est, "user_id").collect()
    assert len(joined) == true.count()
    assert all(r["est_cnt"] >= r["t"] for r in joined)


def test_countmin_partition_invariance_and_validation(spark, sf_dir):
    ev = _events(spark, sf_dir)
    a = sorted(map(tuple, countmin_build(ev, "event_type", width=8,
                                         depth=2).collect()))
    b = sorted(map(tuple, countmin_build(ev.repartition(9), "event_type",
                                         width=8, depth=2).collect()))
    assert a == b
    with pytest.raises(ValueError, match="width"):
        countmin_build(ev, "user_id", width=1)


# --------------------------------------------------------------- bloom

def test_bloom_no_false_negatives_and_probe_plan(spark, sf_dir):
    ev = _events(spark, sf_dir)
    members = (ev.filter((F.col("event_type") == "signup")
                         & (F.col("value") > 400))
               .select("user_id").distinct())
    nb, nh = 62 * 64, 3
    bl = bloom_build(members, "user_id", n_bits=nb, n_hashes=nh)
    probed = bloom_probe(ev, "user_id", bl, n_bits=nb, n_hashes=nh)
    got = (probed.join(members.withColumn("__m", F.lit(1)),
                       "user_id", "left").collect())
    for r in got:
        if r["__m"] is not None:          # a member: must be flagged
            assert r["maybe_member"] is True
    # at this fill ratio some non-member should survive as definitely
    # absent — the filter discriminates (not saturated)
    assert any(not r["maybe_member"] for r in got if r["__m"] is None)
    plan = _plan(probed)
    assert plan.count("BroadcastHashJoin") == nh
    assert "SortMergeJoin" not in plan    # the probed side never shuffles


def test_bloom_word_bound_and_validation(spark, sf_dir):
    ev = _events(spark, sf_dir)
    bl = bloom_build(ev, "user_id", n_bits=124, n_hashes=2).collect()
    assert len(bl) <= 2                   # ceil(124/62) words
    assert all(r["word"] > 0 for r in bl)
    with pytest.raises(ValueError, match="n_bits"):
        bloom_build(ev, "user_id", n_bits=10)


# ----------------------------------------------------- priority_sample

def test_priority_sample_counts_and_weight_dominance(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = priority_sample(docs, "doc_id", "n_chars", 3, by="lang")
    counts = {r["lang"]: r["n"] for r in
              out.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    assert all(v == 3 for v in counts.values())
    # an overwhelming weight always wins: score ln(u)/w -> 0- as w -> inf
    docs2 = docs.withColumn(
        "w", F.when(F.col("doc_id") == 7, F.lit(10.0 ** 12))
        .otherwise(F.lit(1.0)))
    top = priority_sample(docs2, "doc_id", "w", 1).collect()
    assert [r["doc_id"] for r in top] == [7]


def test_priority_sample_invariance_and_validation(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = sorted(r["doc_id"] for r in
               priority_sample(docs, "doc_id", "n_chars", 5,
                               by="lang", seed="s").collect())
    b = sorted(r["doc_id"] for r in
               priority_sample(docs.repartition(11), "doc_id", "n_chars",
                               5, by="lang", seed="s").collect())
    assert a == b
    # different seeds draw different samples
    c = sorted(r["doc_id"] for r in
               priority_sample(docs, "doc_id", "n_chars", 5,
                               by="lang", seed="other").collect())
    assert a != c
    # global form plans as TakeOrdered, not a global sort
    plan = _plan(priority_sample(docs, "doc_id", "n_chars", 5))
    assert "TakeOrderedAndProject" in plan
    with pytest.raises(Exception, match="positive"):
        # data-driven zero (a LITERAL zero is constant-folded around
        # the in-plan assert, same as the kmv null-literal case)
        priority_sample(
            docs.withColumn(
                "z", F.when(F.col("doc_id") % 2 == 0, F.lit(0))
                .otherwise(F.lit(1))),
            "doc_id", "z", 2).collect()
    with pytest.raises(ValueError, match="n must be"):
        priority_sample(docs, "doc_id", "n_chars", 0)


# --------------------------------------------------- gopher rule set

def test_gopher_rules_each_threshold(spark):
    from beats_analytics.textstats import gopher_rules
    base = ("the quick brown fox jumps over a lazy dog and that have "
            "be to of with more words here to clear the minimum")
    docs = [
        ("good", base),
        ("too_short", "the of and be"),
        ("symbol_soup", base + " " + "# # # # # # # # # # # # # #"),
        ("bullets", "\n".join(["- item " + base] * 10)),
        ("ellipses", "\n".join([base + " ..."] * 10)),
        ("numeric", base + " " + " ".join(["12345"] * 40)),
        ("no_stop", "zebra quokka wombat numbat dingo bilby kookaburra "
                    "echidna platypus cassowary emu koala wallaby "
                    "possum galah brolga"),
        ("long_words", " ".join(["antidisestablishmentarianism"] * 30)),
    ]
    df = spark.createDataFrame(docs, "name string, text string")
    g = gopher_rules(F.col("text"), min_words=10)
    out = {r["name"]: r for r in
           df.select("name", *[g[k].alias(k) for k in g]).collect()}
    assert out["good"]["gopher_keep"] is True
    assert out["too_short"]["words_ok"] is False
    assert out["symbol_soup"]["symbol_ok"] is False
    assert out["bullets"]["bullet_ok"] is False
    assert out["ellipses"]["ellipsis_ok"] is False
    assert out["numeric"]["alpha_words_ok"] is False
    assert out["no_stop"]["stop_ok"] is False
    assert out["long_words"]["mwl_ok"] is False
    # every failing doc fails ONLY through its targeted rule + keep
    for name in ("symbol_soup", "bullets", "ellipses"):
        assert out[name]["gopher_keep"] is False
    # pure projection — no exchange
    plan = (df.select("name", *[g[k].alias(k) for k in g])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


# ----------------------------------------------- streaming count-min

def test_stream_countmin_matches_batch(spark, tmp_path):
    """After draining any prefix of micro-batches, the streaming grid
    is bit-identical to the batch build over the same rows."""
    from beats_analytics.sketch import countmin_build
    from beats_analytics.streaming import stream_countmin

    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    b1 = spark.createDataFrame(
        [(i, f"key{i % 7}") for i in range(40)], "i long, k string")
    b2 = spark.createDataFrame(
        [(i, f"key{i % 11}") for i in range(40, 90)], "i long, k string")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("i long, k string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    grid = stream_countmin(stream, "k", width=16, depth=3, seed="s")
    q = (grid.writeStream.outputMode("complete")
         .format("memory").queryName("cm_grid")
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = sorted(map(tuple, spark.sql(
        "SELECT j, bucket, cnt FROM cm_grid").collect()))
    want = sorted(map(tuple, countmin_build(
        spark.read.parquet(src), "k", width=16, depth=3,
        seed="s").collect()))
    assert got == want and len(got) <= 16 * 3


# ------------------------------------------- review-finding regressions

def test_priority_sample_large_weights_not_tie_collapsed(spark, sf_dir):
    """The round(ln(u)/w, 6) spelling collapsed ~5% of rows to a
    0.000000 tie at token-count-scale weights, handing membership to
    the lexicographic tie-break; the Gumbel micro-nat key must keep
    weights in charge at any scale."""
    from beats_analytics.sample import priority_sample
    docs = _docs(spark, sf_dir)
    big = docs.withColumn("w", F.col("n_chars").cast("double") * 1e5)
    got = priority_sample(big, "doc_id", "w", 20, keep_score=True)
    scores = [r["sample_score"] for r in got.collect()]
    assert len(set(scores)) == len(scores)   # no rank-deciding ties
    # scaling every weight by a CONSTANT must not change membership
    # (ln(c*w) shifts all keys equally)
    a = sorted(r["doc_id"] for r in
               priority_sample(big, "doc_id", "w", 20).collect())
    b = sorted(r["doc_id"] for r in
               priority_sample(docs.withColumn(
                   "w", F.col("n_chars").cast("double")),
                   "doc_id", "w", 20).collect())
    assert a == b
    with pytest.raises(ValueError, match="sample_score"):
        priority_sample(docs.withColumn("sample_score", F.lit(1)),
                        "doc_id", "n_chars", 2)


def test_kmv_empty_input_global_form(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    row = kmv_distinct(docs.filter(F.col("lang") == "zz"),
                       "text", k=8).collect()
    assert len(row) == 1
    assert row[0]["est_distinct"] == 0 and row[0]["is_exact"] is True
    # grouped form on empty input stays empty (no groups exist)
    assert kmv_distinct(docs.filter(F.col("lang") == "zz"), "text",
                        k=8, by="lang").count() == 0


def test_stream_countmin_null_guard_matches_batch(spark, tmp_path):
    """stream_countmin delegates to countmin_build, so NULL keys fail
    loudly on both paths instead of silently widening the stream grid."""
    from beats_analytics.streaming import stream_countmin
    src, ck = str(tmp_path / "nsrc"), str(tmp_path / "nck")
    spark.createDataFrame([(1, "a"), (2, None)], "i long, k string") \
        .coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("i long, k string").parquet(src)
    grid = stream_countmin(stream, "k", width=8, depth=2)
    q = (grid.writeStream.outputMode("complete").format("memory")
         .queryName("cm_null").option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="null"):
        q.awaitTermination()


# ---------------------------------------------------------------- HLL

def test_hll_estimator_accuracy_and_merge(spark, sf_dir):
    from beats_analytics.sketch import (
        hll_distinct, hll_merge, hll_registers, hll_estimate)
    docs = _docs(spark, sf_dir)
    true = docs.select("text").distinct().count()
    row = hll_distinct(docs, "text", p=8, bits=32, seed="t").collect()[0]
    # 256 registers -> sigma ~ 1.04/16 = 6.5%; allow 4 sigma
    assert abs(row.est_distinct - true) / true < 0.26
    assert 1 <= row.nseen <= 256

    # merge of two disjoint halves == sketch of the union (register
    # frames are exactly mergeable by max)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    ra = hll_registers(a, "text", p=6, bits=32, seed="t")
    rb = hll_registers(b, "text", p=6, bits=32, seed="t")
    merged = sorted(
        (r.bucket, r.reg)
        for r in hll_merge(ra, rb).collect())
    whole = sorted(
        (r.bucket, r.reg)
        for r in hll_registers(docs, "text", p=6, bits=32,
                               seed="t").collect())
    assert merged == whole
    est_m = hll_estimate(hll_merge(ra, rb), p=6, bits=32).collect()[0]
    est_w = hll_estimate(
        hll_registers(docs, "text", p=6, bits=32, seed="t"),
        p=6, bits=32).collect()[0]
    assert est_m == est_w


def test_hll_partition_invariance_and_validation(spark, sf_dir):
    from beats_analytics.sketch import hll_distinct
    docs = _docs(spark, sf_dir)
    one = sorted(map(tuple,
                     hll_distinct(docs, "text", by="lang",
                                  seed="s").collect()))
    other = sorted(map(tuple,
                       hll_distinct(docs.repartition(17), "text",
                                    by="lang", seed="s").collect()))
    assert one == other
    with pytest.raises(ValueError):
        hll_distinct(docs, "text", p=2)
    with pytest.raises(ValueError):
        hll_distinct(docs, "text", p=8, bits=8)


def test_hll_register_exchange_is_partial_agg(spark, sf_dir):
    """The scale claim: the register build is a partial-combining
    max — HashAggregate appears below AND above the exchange, and the
    exchange key is (group, bucket), never the raw value."""
    from beats_analytics.sketch import hll_registers
    docs = _docs(spark, sf_dir)
    plan = _plan(hll_registers(docs, "text", by="lang", seed="s"))
    assert plan.count("HashAggregate") >= 2
    assert "bucket" in plan and "text" not in plan.split("Exchange")[0]


# ------------------------------------------------- bloom join pruning

def test_bloom_prune_is_superset_and_join_exact(spark, sf_dir):
    """Prune keeps every true match (no false negatives) and the
    exact join equals the unpruned join (false positives removed)."""
    ev = _events(spark, sf_dir)
    dim = (ev.filter((F.col("event_type") == "purchase")
                     & (F.col("value") > 250))
           .select("user_id").distinct())
    bl = bloom_build(dim, "user_id", n_bits=2046, n_hashes=3, seed="x")
    probed = bloom_probe(ev, "user_id", bl, n_bits=2046, n_hashes=3,
                         seed="x")
    pruned = probed.filter(F.col("maybe_member"))
    n_total, n_pruned = ev.count(), pruned.count()
    n_true = ev.join(dim, "user_id", "left_semi").count()
    assert n_true <= n_pruned <= n_total
    got = sorted(map(tuple,
                     pruned.join(dim, "user_id")
                     .select("event_id").collect()))
    want = sorted(map(tuple,
                      ev.join(dim, "user_id")
                      .select("event_id").collect()))
    assert got == want


def test_bloom_prune_sits_below_the_join_exchange(spark, sf_dir):
    """The scale claim: the bloom word joins are BroadcastHashJoin
    and the membership Filter evaluates before any Exchange of the
    fact side (prune map-side, shuffle survivors only)."""
    ev = _events(spark, sf_dir)
    dim = ev.select("user_id").distinct()
    bl = bloom_build(dim, "user_id", n_bits=2046, n_hashes=3, seed="x")
    pruned = (bloom_probe(ev, "user_id", bl, n_bits=2046, n_hashes=3,
                          seed="x")
              .filter(F.col("maybe_member")))
    # force a shuffle join on the survivors
    big = pruned.repartition("user_id").groupBy("user_id").count()
    plan = _plan(big)
    probe_joins = plan.count("BroadcastHashJoin")
    assert probe_joins >= 3  # one per bloom hash
    # the fact-side Exchange (hashpartitioning on user_id) must appear
    # ABOVE (= earlier in the printed tree than) the bloom Filter
    exch = plan.find("Exchange hashpartitioning")
    # catalyst inlines maybe_member and splits the conjunction into one
    # Filter per word join; the word columns (__wv*) mark those filters
    filt = plan.find("Filter NOT ((coalesce(__wv")
    assert exch != -1 and filt != -1 and exch < filt


# -------------------------------------------- corpus-level minhash

def test_corpus_signature_merges_by_min(spark, sf_dir):
    """Corpus MinHash signatures are mergeable by component-wise min:
    the signature of a union equals the min-merge of partial
    signatures — the property that lets per-day sketches roll up
    without re-reading raw data (same contract as hll_merge)."""
    from beats_analytics.dedup import shingles
    docs = _docs(spark, sf_dir)
    k = 8

    def sig_of(df):
        toks = (df.select(F.explode(shingles(F.col("text"), 2))
                          .alias("g")).distinct())
        row = toks.agg(*[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("g"))))
            .alias(f"h{i}") for i in range(k)]).collect()[0]
        return [row[f"h{i}"] for i in range(k)]

    half_a = sig_of(docs.filter(F.col("doc_id") % 2 == 0))
    half_b = sig_of(docs.filter(F.col("doc_id") % 2 == 1))
    whole = sig_of(docs)
    assert [min(x, y) for x, y in zip(half_a, half_b)] == whole


def test_corpus_overlap_estimate_brackets_exact(spark, sf_dir):
    """j_est is an unbiased 16-trial binomial estimate of j_exact:
    on the 190 fixture pairs the mean absolute error must sit well
    inside the σ = sqrt(J(1-J)/16) ~ 0.12 band, and both columns
    stay in [0, 1]."""
    from beats_analytics.queries import QUERIES
    rows = QUERIES["corpus_overlap"](spark, sf_dir).collect()
    assert len(rows) == 190
    errs = [abs(r.j_est - r.j_exact) for r in rows]
    assert all(0.0 <= r.j_est <= 1.0 and 0.0 <= r.j_exact <= 1.0
               for r in rows)
    assert sum(errs) / len(errs) < 0.15


def test_stream_hll_matches_batch_and_is_replay_safe(spark, tmp_path):
    """After draining any prefix of micro-batches the streaming
    register frame is bit-identical to the batch build over the same
    rows; replaying a batch (at-least-once delivery) cannot move any
    register because max() is idempotent."""
    from beats_analytics.sketch import hll_registers, hll_estimate
    from beats_analytics.streaming import stream_hll

    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    b1 = spark.createDataFrame(
        [(i, f"url{i % 37}") for i in range(60)], "i long, u string")
    b2 = spark.createDataFrame(
        [(i, f"url{i % 53}") for i in range(60, 140)], "i long, u string")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    # replay: batch 1 delivered again
    b1.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("i long, u string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    regs = stream_hll(stream, "u", p=5, bits=32, seed="s")
    q = (regs.writeStream.outputMode("complete")
         .format("memory").queryName("hll_regs")
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = sorted(map(tuple, spark.sql(
        "SELECT bucket, reg FROM hll_regs").collect()))
    # batch over the DEDUPLICATED rows == batch over all rows with the
    # replay == the streaming result (replay safety)
    want = sorted(map(tuple, hll_registers(
        spark.read.parquet(src), "u", p=5, bits=32,
        seed="s").collect()))
    no_replay = sorted(map(tuple, hll_registers(
        b1.unionByName(b2), "u", p=5, bits=32, seed="s").collect()))
    assert got == want == no_replay and len(got) <= 32
    est = hll_estimate(spark.sql("SELECT bucket, reg FROM hll_regs"),
                       p=5, bits=32).collect()[0]
    # true distinct = |url0..36 ∪ url0..52| = 53; 32 registers, ~4σ
    assert abs(est.est_distinct - 53) / 53 < 0.75


def test_hll_composite_by_matches_single_key_slices(spark, sf_dir):
    """A composite (key, window) grouping gives the same registers as
    running the single-key sketch inside each window slice."""
    from beats_analytics.sketch import hll_registers
    ev = _events(spark, sf_dir)
    keyed = ev.select(
        "event_type",
        F.window("ts", "6 hours")["start"].alias("w"), "user_id")
    combined = {(r.event_type, r.w, r.bucket): r.reg
                for r in hll_registers(keyed, "user_id", p=5,
                                       by=["event_type", "w"],
                                       seed="x").collect()}
    one_w = keyed.select("w").distinct().limit(1).collect()[0].w
    sliced = {(r.event_type, one_w, r.bucket): r.reg
              for r in hll_registers(
                  keyed.filter(F.col("w") == one_w), "user_id",
                  p=5, by="event_type", seed="x").collect()}
    for k, v in sliced.items():
        assert combined[k] == v


# ---------------------------------------------------- HDR histogram

def test_hdr_histogram_buckets_merge_and_percentiles(spark):
    from beats_analytics.sketch import hdr_histogram, hdr_percentiles
    # values in micro-units after scale 1: 0, 1, 2, 3, 4..7, 8..15
    rows = [(0.0,), (1.0,), (2.0,), (3.0,), (5.0,), (12.0,)]
    df = spark.createDataFrame(rows, "v double")
    hist = {r.bucket: r.cnt
            for r in hdr_histogram(df, "v", unit_scale=1).collect()}
    assert hist == {0: 1, 1: 1, 2: 2, 3: 1, 4: 1}
    # merge = plain SUM: two halves sum to the whole
    a = hdr_histogram(df.limit(3), "v", unit_scale=1)
    b = hdr_histogram(df.subtract(df.limit(3)), "v", unit_scale=1)
    merged = {r.bucket: r.cnt
              for r in a.unionByName(b).groupBy("bucket")
              .agg(F.sum("cnt").alias("cnt")).collect()}
    assert merged == hist
    # p50 of 6 values -> rank 3 -> bucket 2 (values 2,3) -> upper 3
    pct = {r.q_micro: r.upper_micro
           for r in hdr_percentiles(
               hdr_histogram(df, "v", unit_scale=1),
               [0.5, 0.99]).collect()}
    assert pct[500_000] == 3
    assert pct[990_000] == 15  # rank 6 -> bucket 4 -> upper 2^4-1
    # sub-percent quantiles stay DISTINCT rows with exact ranks
    fine = hdr_percentiles(hdr_histogram(df, "v", unit_scale=1),
                           [0.991, 0.994]).collect()
    assert len(fine) == 2


def test_hdr_histogram_negative_fails_loud(spark):
    from beats_analytics.sketch import hdr_histogram, hdr_percentiles
    df = spark.createDataFrame([(1.0,), (-2.0,)], "v double")
    with pytest.raises(Exception, match="negative"):
        hdr_histogram(df, "v").collect()
    # NULLs get the accurate null message, not the clock hint
    dfn = spark.createDataFrame([(1.0,), (None,)], "v double")
    with pytest.raises(Exception, match="null"):
        hdr_histogram(dfn, "v").collect()
    with pytest.raises(ValueError, match="quantile"):
        hdr_percentiles(hdr_histogram(df.limit(1), "v"), [])
    with pytest.raises(ValueError, match="q must"):
        hdr_percentiles(hdr_histogram(df.limit(1), "v"), [1.5])


# ------------------------------------------------------ heavy hitters

def test_heavy_hitters_exact_vs_groupby(spark, sf_dir):
    from beats_analytics.sketch import heavy_hitters
    ev = _events(spark, sf_dir).select(
        (F.col("user_id") % 23).cast("string").alias("item"))
    k = 15
    out = {r["item"]: r["n"]
           for r in heavy_hitters(ev, "item", k=k).collect()}
    n = ev.count()
    exact = {r["item"]: r["cnt"]
             for r in ev.groupBy("item")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()
             if r["cnt"] * k > n}
    # no false negatives AND no false positives — the recount makes
    # the sketch answer the exact HAVING set
    assert out == exact and len(out) > 0


def test_heavy_hitters_partition_invariance_and_fields(spark, sf_dir):
    from beats_analytics.sketch import heavy_hitters
    ev = _events(spark, sf_dir).select(
        F.when(F.col("event_id") % 4 == 0, F.lit("hot"))
        .otherwise(F.col("event_id").cast("string")).alias("item"))
    a = sorted(map(tuple, heavy_hitters(ev, "item", k=8).collect()))
    b = sorted(map(tuple,
                   heavy_hitters(ev.repartition(17), "item",
                                 k=8).collect()))
    assert a == b and len(a) == 1
    item, cnt, tot, freq = a[0]
    assert item == "hot" and tot == ev.count()
    assert freq == cnt * 1_000_000 // tot


def test_heavy_hitters_plan_and_validation(spark, sf_dir):
    from beats_analytics.sketch import heavy_hitters
    ev = _events(spark, sf_dir).select(
        (F.col("user_id") % 5).cast("string").alias("item"))
    plan = _plan(heavy_hitters(ev, "item", k=4))
    # the recount probes candidates via a broadcast semi join — the
    # big side must not shuffle on the raw item key
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    with pytest.raises(ValueError, match="k must be >= 2"):
        heavy_hitters(ev, "item", k=1)
    nulls = spark.createDataFrame(
        [("a",), (None,)], "item string")
    with pytest.raises(Exception, match="null item"):
        heavy_hitters(nulls, "item", k=4).collect()
