"""Curation funnel: metrics funnel consistency + determinism."""

from beats_analytics.curate import curate


def test_curation_metrics_funnel(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    res = curate(docs, min_quality=0.65, langs=("en", "de", "fr"))
    m = res.metrics
    assert m["docs.total"] >= m["docs.quality_kept"] >= m["docs.lang_kept"]
    assert m["docs.lang_kept"] >= m["docs.exact_kept"]
    assert m["docs.exact_kept"] >= m["docs.near_dup_kept"]
    assert m["docs.near_dup_kept"] == res.kept.count()
    assert m["docs.dropped"] == m["docs.total"] - m["docs.near_dup_kept"]
    # the funnel actually removed something at each configured stage
    assert m["docs.quality_kept"] < m["docs.total"]
    assert m["docs.lang_kept"] < m["docs.quality_kept"]


def test_curation_deterministic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(r["doc_id"] for r in
               curate(docs, with_metrics=False).kept.collect())
    b = sorted(r["doc_id"] for r in
               curate(docs, with_metrics=False).kept.collect())
    assert a == b and len(a) > 0


def test_fused_lang_matches_jvm_stopword_path(spark, sf_dir):
    # the Arrow kernel's lang field == the JVM lang_id_stopword column
    # (same marker argmax + lexicographic tie-break + 'und' at zero)
    from pyspark.sql import functions as F
    from beats_analytics.textstats import (lang_id_stopword,
                                               text_stats_arrow)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    st = text_stats_arrow("text", with_lang=True)
    both = docs.select(
        lang_id_stopword(F.col("text")).alias("jvm"),
        st["lang"].alias("fused"),
        st["quality"].alias("q"))
    assert both.filter(F.col("jvm") != F.col("fused")).count() == 0
    # kernel struct stays backward compatible
    assert both.filter(F.col("q").isNull()).count() == 0


def test_component_resolution_keeps_one_per_cluster(spark, sf_dir):
    from beats_analytics.components import connected_components
    from beats_analytics.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    clustered = curate(docs, with_metrics=False,
                       near_dup_resolution="components")
    kept_c = {r["doc_id"] for r in clustered.kept.select("doc_id").collect()}

    # recompute the pair graph over the SAME pre-near-dup universe the
    # funnel saw (quality -> lang -> exact dedup) and its components
    pre = curate(docs, with_metrics=False, near_dup_jaccard=2.0)
    pre_ids = pre.kept.select("doc_id", "text")
    pairs = minhash_lsh_pairs(pre_ids, id_col="doc_id", text_col="text",
                              num_hashes=16, bands=4, threshold=0.12)
    labeled = connected_components(
        pairs, nodes=pre_ids.select("doc_id"), id_col="doc_id")
    comp = {r["doc_id"]: r["component"] for r in labeled.collect()}

    # the survivor set is exactly one doc per component: the min id
    expect = {c for c in comp.values()}
    assert kept_c == expect
    # no two survivors share a component
    seen = {}
    for d in kept_c:
        assert comp[d] not in seen
        seen[comp[d]] = d


def test_repetition_stats_known_values(spark):
    from beats_analytics.textstats import repetition_stats_arrow
    text = "aa bb\naa bb\ncc dd ee\n\naa bb cc aa bb cc aa bb cc"
    # lines (non-empty): 'aa bb' x2, 'cc dd ee', 'aa bb cc...' -> 4
    df = spark.createDataFrame([(text,), (None,)], "text string")
    r = df.select(repetition_stats_arrow("text").alias("s")).collect()
    s = r[0]["s"]
    assert s["n_lines"] == 4
    assert s["dup_line_frac"] == 0.5          # 2 of 4 lines duplicated
    # duplicate-line chars: 'aa bb' (5) * 2 = 10 of 5+5+8+26=44
    assert s["dup_line_char_frac"] == round(10 / 44, 6)
    # most frequent 2-gram: 'aa bb' occurs 2(lines)+3(last line)=...
    # tokens: aa bb aa bb cc dd ee aa bb cc aa bb cc aa bb cc
    # 'aa bb' count 5, len 5; n_chars = len(text)
    assert s["top2_char_frac"] == round(5 * 5 / len(text), 6)
    assert r[1]["s"]["n_lines"] is None       # null text -> null struct


def test_repetition_gates_in_funnel(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # compare with the near-dup stage off: the gates are map-side
    # filters, so the gated survivor set must be a subset (with
    # near-dup on, removing a doc can save its pair loser, so the
    # full-funnel comparison is legitimately non-monotone)
    base = curate(docs, with_metrics=False, near_dup_jaccard=2.0)
    gated = curate(docs, with_metrics=False, near_dup_jaccard=2.0,
                   max_dup_line_frac=0.05, max_top2_char_frac=0.05)
    kept_b = {r["doc_id"] for r in base.kept.select("doc_id").collect()}
    kept_g = {r["doc_id"] for r in gated.kept.select("doc_id").collect()}
    assert kept_g <= kept_b          # gates only remove
    assert "__s" not in gated.kept.columns
    # the gates actually fire on this data
    assert len(kept_g) < len(kept_b)


def test_curate_lm_gate(spark):
    """The opt-in LM fluency gate drops gibberish that passes the
    surface-quality filter."""
    from beats_analytics import curate
    fluent = "the quick brown fox jumps over the lazy dog."
    rows = [(i, fluent + f" take {i} of the story.", "en")
            for i in range(10)]
    # gibberish: words the corpus model has barely seen, shuffled
    rows += [(100 + i, f"zxq{i} vvb{i} qqw{i} mmz{i} ppl{i} kkj{i}.",
              "en") for i in range(2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    base = curate(docs, min_quality=0.0, near_dup_jaccard=None,
                  with_metrics=False)
    base_ids = {r.doc_id for r in base.kept.select("doc_id").collect()}
    assert {100, 101} <= base_ids          # no LM gate: gibberish passes

    from beats_analytics import lm_score
    cut = lm_score(docs).agg(
        __import__("pyspark.sql.functions", fromlist=["expr"])
        .expr("percentile(avg_lp_micro, 0.15)")).first()[0]
    res = curate(docs, min_quality=0.0, near_dup_jaccard=None,
                 min_lm_micro=int(cut))
    ids = {r.doc_id for r in res.kept.select("doc_id").collect()}
    assert 100 not in ids and 101 not in ids
    assert res.metrics["docs.lm_kept"] == len(ids)
    res.unpersist()


# ------------------------------------------- prefix-filtered jaccard

def test_prefix_jaccard_identical_to_full_join(spark, sf_dir):
    """The prefix filter is lossless: output equals the full
    inverted-index join at every threshold (prefix-filtering lemma)."""
    from beats_analytics.dedup import (
        ngram_jaccard_pairs, ngram_jaccard_prefix_pairs)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for t in (0.2, 0.5, 0.8):
        full = sorted(map(tuple,
                          ngram_jaccard_pairs(docs, n=3,
                                              threshold=t).collect()))
        pref = sorted(map(tuple,
                          ngram_jaccard_prefix_pairs(
                              docs, n=3, threshold=t).collect()))
        assert full == pref, t


def test_prefix_jaccard_antiskew_on_stop_shingles(spark):
    """A shingle shared by every document (the skew killer for the
    full inverted-index join) lands in almost no prefixes: it sorts
    to the END of the (df, shingle) order, so only documents whose
    prefix spans their whole shingle set ever index it."""
    from pyspark.sql import functions as F
    from beats_analytics.dedup import (
        _shingle_frame, ngram_jaccard_prefix_pairs)
    rows = [(i, "common stop phrase unique%d word%d tail%d extra%d "
                "pad%d fill%d more%d" % (i, i, i, i, i, i, i))
            for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    t = 0.5
    # reconstruct the prefix index the operator builds and count how
    # often the universal shingle ("common stop phrase", df=50) occurs
    from pyspark.sql import Window
    base = _shingle_frame(docs, "doc_id", "text", 3)
    inv = base.select("id", F.size("sh").alias("sz"),
                      F.explode("sh").alias("g"))
    freq = inv.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "g")
    pref = (inv.join(freq, "g")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= F.col("sz")
                    - F.ceil(F.lit(t) * F.col("sz")) + 1))
    hot_in_prefix = pref.filter(
        F.col("g") == "common stop phrase").count()
    assert hot_in_prefix == 0  # 50² candidate pairs avoided
    # and the operator still finds nothing (no true pairs >= 0.5)
    assert ngram_jaccard_prefix_pairs(docs, n=3,
                                      threshold=t).count() == 0


def test_containment_catches_embedding_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment 1.0,
    Jaccard near zero — the case the directional join exists for.
    Directionality: only the short->long edge crosses the bar."""
    from beats_analytics.dedup import (
        containment_pairs, ngram_jaccard_pairs)
    short = "alpha beta gamma delta epsilon"
    longd = short + " " + " ".join(f"w{i}" for i in range(100))
    docs = spark.createDataFrame([(1, short), (2, longd)],
                                 "doc_id long, text string")
    c = containment_pairs(docs, n=3, threshold=0.9).collect()
    assert [(r.id_a, r.id_b, r.containment) for r in c] == [(1, 2, 1.0)]
    assert ngram_jaccard_pairs(docs, n=3, threshold=0.9).count() == 0
    # stop-shingle cutoff still bounds fan-out
    assert containment_pairs(docs, n=3, threshold=0.9,
                             max_doc_freq=1).count() == 0


def test_prefix_jaccard_float_ceil_boundary(spark):
    """Regression: F.ceil(0.55 * 100) rounds to 56 under IEEE floats,
    which shortened the prefix by one shingle and dropped pairs whose
    Jaccard sits exactly on the threshold. The integer micro-unit
    ceil must keep the J == t pair."""
    from beats_analytics.dedup import (
        ngram_jaccard_pairs, ngram_jaccard_prefix_pairs)
    a = " ".join(f"w{i}" for i in range(57))    # 55 distinct 3-grams
    b = a + " " + " ".join(f"x{i}" for i in range(45))  # 100 total
    docs = spark.createDataFrame([(1, a), (2, b)],
                                 "doc_id long, text string")
    full = sorted(map(tuple,
                      ngram_jaccard_pairs(docs, n=3,
                                          threshold=0.55).collect()))
    pref = sorted(map(tuple,
                      ngram_jaccard_prefix_pairs(
                          docs, n=3, threshold=0.55).collect()))
    assert full == pref == [(1, 2, 0.55)]


def test_readability_known_values(spark):
    from beats_analytics.textstats import readability
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [("a", "The cat sat. It ran!"),
         ("b", "hello world"),
         ("c", "")], ["doc_id", "text"])
    r = readability(F.col("text"))
    out = df.select("doc_id", r.alias("r"))
    rows = {x["doc_id"]: x["r"] for x in out.collect()}
    # "The cat sat. It ran!": w=5, sentences=2 ('.' and '!' runs),
    # vowel groups e/a/a/I/a = 5.
    a = rows["a"]
    assert (a["n_words"], a["n_sentences"], a["n_syllables"]) == (5, 2, 5)
    assert a["flesch_milli"] == 206835 - (5 * 1015) // 2 - 84600
    assert a["fk_grade_milli"] == (5 * 390) // 2 + 11800 - 15590
    assert a["band"] == "very_easy"
    # no sentence mark: sentence count reports 0, ratios clamp to 1
    b = rows["b"]
    assert (b["n_words"], b["n_sentences"], b["n_syllables"]) == (2, 0, 3)
    assert b["flesch_milli"] == 206835 - 2030 - (3 * 84600) // 2 == 77905
    assert b["band"] == "easy"
    # degenerate empty text: both clamps engage, scores stay defined
    c = rows["c"]
    assert c["flesch_milli"] == 206835 and c["fk_grade_milli"] == -15590
    # pure map: whole-stage codegen, no Python stage, no shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_entropy_known_values(spark):
    import math
    from beats_analytics.textstats import entropy_stats_arrow

    df = spark.createDataFrame(
        [(0, "aaaa"), (1, "abab"), (2, ""), (3, None),
         (4, "the the cat")],
        "doc_id int, text string")
    rows = {r["doc_id"]: r for r in
            df.select("doc_id",
                      entropy_stats_arrow("text").alias("s"))
              .select("doc_id", "s.*").collect()}
    # one repeated char: ln(4/4)=0 -> entropy exactly 0
    assert rows[0]["char_ent_micro"] == 0
    assert rows[0]["distinct_chars"] == 1
    assert rows[0]["ttr_micro"] == 1_000_000
    # two chars, uniform: -4*round(ln(0.5)*1e6) = 4*693147
    assert rows[1]["char_ent_micro"] == 4 * 693147
    assert rows[1]["char_ent_per_cp_micro"] == 693147
    # empty text is total: zero counts, NULL per-unit averages
    assert rows[2]["n_cp"] == 0 and rows[2]["char_ent_micro"] == 0
    assert rows[2]["char_ent_per_cp_micro"] is None
    assert rows[2]["n_tokens"] == 0 and rows[2]["ttr_micro"] is None
    # NULL text stays NULL
    assert rows[3]["n_cp"] is None
    # token entropy: counts {the:2, cat:1}, n=3
    q = lambda p: int(math.trunc(math.log(p) * 1e6
                                 + math.copysign(0.5, math.log(p))))
    assert rows[4]["tok_ent_micro"] == -(2 * q(2 / 3) + 1 * q(1 / 3))
    assert rows[4]["distinct_tokens"] == 2
    assert rows[4]["ttr_micro"] == (1_000_000 * 2) // 3


def test_dns_tunnel_flags_hand_case(spark):
    from beats_analytics.textstats import dns_tunnel_flags

    rows = [(0, "www.example.com"),                     # short label
            (1, "a" * 40 + ".t.example.com"),           # long, zero ent
            (2, "d41d8cd98f00b204e9800998ecf8427e.t.example.com"),
            (3, "deadbeef.t.example.com")]              # high ent, short
    df = spark.createDataFrame(rows, "id int, query_name string")
    out = {r["id"]: r for r in dns_tunnel_flags(df).collect()}
    assert out[0]["is_tunnel"] is False
    assert out[1]["is_tunnel"] is False      # long but single-char
    assert out[2]["is_tunnel"] is True       # md5 blob: long + high ent
    assert out[3]["is_tunnel"] is False      # entropy-rich but short
    assert out[2]["label_len"] == 32


def test_oov_rate_hand_case(spark):
    from beats_analytics.textstats import oov_rate

    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"),   # zebra/quark not in vocab
         (1, "zebra quark the"),
         (2, ""),                         # empty doc → 0 tokens, NULL rate
         (3, "the the the")],
        "doc_id int, text string")
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("sat",), ("on",), ("mat",)], "w string")
    out = {r["doc_id"]: r for r in oov_rate(docs, vocab).collect()}
    assert out[0]["n_tokens"] == 6 and out[0]["n_oov"] == 0
    assert out[0]["oov_micro"] == 0
    assert out[1]["n_tokens"] == 3 and out[1]["n_oov"] == 2
    assert out[1]["oov_micro"] == (2 * 1_000_000) // 3
    assert out[2]["n_tokens"] == 0 and out[2]["oov_micro"] is None
    assert out[3]["n_oov"] == 0


def test_bpe_merges_sennrich_example(spark):
    """The canonical BPE walkthrough: {low x3, lower, lowest,
    newest x3, widest} learns es, est, est</w> first (freq 5 beats
    everything), with deterministic lexicographic tie-breaks."""
    from beats_analytics import bpe_merges

    df = spark.createDataFrame(
        [("low low low lower lowest",), ("newest newest newest widest",)],
        "text string")
    got = [(r["merge_round"], r["left_sym"], r["right_sym"],
            r["pair_count"])
           for r in bpe_merges(df, n_merges=5)
           .orderBy("merge_round").collect()]
    assert got == [(1, "e", "s", 5), (2, "es", "t", 5),
                   (3, "est", "</w>", 5), (4, "l", "o", 5),
                   (5, "lo", "w", 5)]


def test_bpe_merges_greedy_overlap_and_edge_cases(spark):
    """Back-to-back pair occurrences merge left-to-right
    non-overlapping ('aaaa' with merge (a,a) yields 2 pairs consumed,
    not 3); empty corpus yields no merges; n_merges=0 is legal."""
    from beats_analytics import bpe_merges

    df = spark.createDataFrame([("aaaa aaaa",)], "text string")
    got = [(r["merge_round"], r["left_sym"], r["right_sym"],
            r["pair_count"])
           for r in bpe_merges(df, n_merges=2)
           .orderBy("merge_round").collect()]
    # round 1: (a,a) appears 3 adjacent times per word but greedy
    # application merges positions 1-2 and 3-4 → 'aa aa </w>'
    assert got[0] == (1, "a", "a", 6)
    # round 2: (aa,aa) and (aa,</w>) tie at 2; '<' sorts before 'a'
    assert got[1] == (2, "aa", "</w>", 2)

    empty = spark.createDataFrame([("",)], "text string")
    assert bpe_merges(empty, n_merges=3).count() == 0
    assert bpe_merges(df, n_merges=0).count() == 0


def test_bpe_encode_roundtrip_and_boundaries(spark):
    """Encoding applies merges in round order with greedy semantics;
    concatenating a doc's BPE tokens and dropping markers recovers the
    original words (lossless); empty docs encode to 0 tokens."""
    from beats_analytics import bpe_encode, bpe_merges

    df = spark.createDataFrame(
        [(0, "low low low lower lowest"),
         (1, "newest newest newest widest"), (2, "")],
        "doc_id int, text string")
    m = bpe_merges(df, n_merges=5)   # es, est, est</w>, lo, low
    out = {r["doc_id"]: r for r in bpe_encode(df, m).collect()}
    assert out[0]["bpe_text"].split() == [
        "low", "</w>", "low", "</w>", "low", "</w>",
        "low", "e", "r", "</w>", "low", "est</w>"]
    assert out[0]["n_bpe_tokens"] == 12
    assert out[2]["n_bpe_tokens"] == 0 and out[2]["bpe_text"] == ""
    # lossless: strip markers, rejoin
    for did, text in ((0, "low low low lower lowest"),
                      (1, "newest newest newest widest")):
        words = (out[did]["bpe_text"].replace(" ", "")
                 .split("</w>"))
        assert [w for w in words if w] == text.split()


def test_mirror_hosts_detects_cross_host_near_dups(spark):
    from pyspark.sql import functions as F
    from beats_analytics import mirror_hosts
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark quiet forest tonight")
    rows = []
    # hostA: 4 originals; hostB mirrors 3 of them near-verbatim
    for i in range(4):
        rows.append((i, "hostA", base + f" page {i}"))
    for i in range(3):
        rows.append((10 + i, "hostB", base + f" page {i} x"))
    # hostC: unrelated content, no mirror pairs
    for i in range(3):
        rows.append((20 + i, "hostC",
                     f"completely different subject {i} about boats "
                     f"sails harbors tides moons stars {i} maps"))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r["host_a"], r["host_b"]): r.asDict()
           for r in mirror_hosts(df).collect()}
    assert ("hostA", "hostB") in out
    ab = out[("hostA", "hostB")]
    # >= the 3 true mirror pairs; overlap vs the smaller side (3 docs)
    assert ab["n_pairs"] >= 3
    assert ab["mirror_micro"] >= 1_000_000
    # hostC pairs with nobody
    assert not any("hostC" in k for k in out)
