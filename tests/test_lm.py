"""Bigram LM quality scoring (beats_analytics.lm)."""
import math

from pyspark.sql import functions as F

from beats_analytics import bigram_model, lm_score


def test_lm_score_hand_case(spark):
    # corpus tokens: a,b (x2), a,c, x -> vocab {a,b,c,x}: V=4, c(a)=3
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "x"), (5, None)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in lm_score(docs).collect()}
    # P(b|a) = (2+1)/(3+4) = 3/7 ; P(c|a) = (1+1)/(3+4) = 2/7
    lp_ab = int(round(math.log(3 / 7) * 1e6))
    lp_ac = int(round(math.log(2 / 7) * 1e6))
    assert out[1].lp_micro == lp_ab and out[1].n_bigrams == 1
    assert out[3].lp_micro == lp_ac
    assert out[1].avg_lp_micro == math.floor(lp_ab / 1)
    # fluent ("a b", seen twice) scores higher than rarer "a c"
    assert out[1].avg_lp_micro > out[3].avg_lp_micro
    # docs with <2 tokens: zero bigrams, NULL average
    assert out[4].n_bigrams == 0 and out[4].avg_lp_micro is None
    assert out[5].n_bigrams == 0


def test_lm_frozen_model_scores_new_batch_totally(spark):
    corpus = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")],
        "doc_id long, text string")
    model = bigram_model(corpus)
    new = spark.createDataFrame(
        [(10, "the cat sat"),        # all seen
         (11, "zz qq")],             # fully unseen: P = 1/V
        "doc_id long, text string")
    out = {r.doc_id: r for r in lm_score(new, model=model).collect()}
    # V = 4 (the, cat, sat, ran); unseen bigram w/ unseen w1: 1/V
    lp_unseen = int(round(math.log(1 / 4) * 1e6))
    assert out[11].lp_micro == lp_unseen
    assert out[10].avg_lp_micro > out[11].avg_lp_micro


def test_lm_score_partition_invariant(spark):
    rows = [(i, f"w{i % 7} w{(i + 1) % 7} w{(i + 2) % 5}")
            for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, lm_score(docs).collect()))
    b = sorted(map(tuple, lm_score(docs.repartition(13)).collect()))
    # integer micro-nat sums: bit-identical under any partitioning
    assert a == b


def test_nb_quality_hand_case(spark):
    import math
    from pyspark.sql import functions as F
    from beats_analytics.lm import nb_quality

    # positives say "good", negatives say "spam"; one ambiguous doc
    rows = [(0, "good good text", 1), (1, "good text", 1),
            (2, "spam spam text", 0), (3, "spam text", 0),
            (4, "text", 0)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    out = {r["doc_id"]: r for r in
           nb_quality(df, F.col("y") == 1).collect()}
    # curated-looking docs score positive, spammy ones negative
    assert out[0]["pred_quality"] is True
    assert out[2]["pred_quality"] is False
    # hand-check doc 4 ("text"): counts good(3,0) spam(0,3)
    # text(2,3); N_pos=5, N_neg=6, V=3
    q = lambda x: int(math.trunc(math.log(x) * 1e6
                                 + math.copysign(0.5, math.log(x))))
    prior = q(3 / 7) - q(4 / 7)
    lw_text = q((2 + 1) / (5 + 3)) - q((3 + 1) / (6 + 3))
    assert out[4]["nb_micro"] == prior + lw_text
    assert out[4]["n_tokens"] == 1


def test_nb_quality_partition_invariant(spark):
    from pyspark.sql import functions as F
    from beats_analytics.lm import nb_quality

    rows = [(i, f"tok{i % 7} tok{i % 3} common word", i % 4)
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    a = sorted(map(tuple, nb_quality(df, F.col("y") == 0).collect()))
    b = sorted(map(tuple, nb_quality(
        df.repartition(17), F.col("y") == 0).collect()))
    assert a == b and len(a) == 60


def test_token_kl_identical_groups_score_near_zero(spark):
    from pyspark.sql import functions as F
    from beats_analytics.lm import token_kl

    # two groups with IDENTICAL token distributions: KL must be ~0
    # (exactly 0 up to the micro-nat quantization of equal ratios)
    rows = [(i, "alpha beta gamma delta", "a" if i % 2 else "b")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = token_kl(df, by="source").collect()
    assert len(out) == 2
    for r in out:
        # p_g and q differ only through Laplace mass; scaled KL stays
        # tiny relative to the mass (pure-drift groups score >> this)
        assert abs(r["kl_scaled_micro"]) < r["smoothed_mass"] // 10
    # a genuinely drifted group scores much higher
    rows2 = rows + [(100 + i, "omega omega omega", "c")
                    for i in range(20)]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string, source string")
    out2 = {r["source"]: r for r in token_kl(df2, by="source").collect()}
    drift_c = out2["c"]["kl_scaled_micro"] / out2["c"]["smoothed_mass"]
    drift_a = out2["a"]["kl_scaled_micro"] / out2["a"]["smoothed_mass"]
    assert drift_c > drift_a * 3


def test_token_kl_partition_invariant(spark):
    from beats_analytics.lm import token_kl

    rows = [(i, f"w{i % 13} w{i % 5} shared", f"s{i % 3}")
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    a = sorted(map(tuple, token_kl(df).collect()))
    b = sorted(map(tuple, token_kl(df.repartition(11)).collect()))
    assert a == b and len(a) == 3


def test_domain_weights_properties(spark):
    from pyspark.sql import functions as F
    from beats_analytics import domain_weights
    rows = []
    # domain A: exactly the curated distribution (repeat docs)
    for i in range(6):
        rows.append((i, "A", "en", "the cat sat on the mat"))
    # domain B: same language family, partially aligned
    for i in range(6, 12):
        rows.append((i, "B", "en", "the dog sat on a rug"))
    # domain C: gibberish both models find hard
    for i in range(12, 18):
        rows.append((i, "C", "xx", f"zz{i} qq{i} vv{i} kk{i}"))
    # domain D: no bigrams at all (single-token docs)
    rows.append((18, "D", "xx", "one"))
    df = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string")
    out = domain_weights(df, curated=F.col("lang") == "en")
    got = {r["source"]: r.asDict() for r in out.collect()}
    assert set(got) == {"A", "B", "C", "D"}
    # no-bigram domain: zero mass, NULL averages, zero weight
    assert got["D"]["n_bigrams"] == 0
    assert got["D"]["avg_lp_ref_micro"] is None
    assert got["D"]["weight_micro"] == 0
    # curated-aligned domains outweigh the gibberish domain
    assert got["A"]["weight_micro"] > got["C"]["weight_micro"]
    # weights normalize to ~1e6 (rounding slack one unit per domain)
    total = sum(v["weight_micro"] for v in got.values())
    assert abs(total - 1_000_000) <= len(got)
    # excess is clipped non-negative everywhere
    assert all(v["excess_micro"] >= 0 for v in got.values())
