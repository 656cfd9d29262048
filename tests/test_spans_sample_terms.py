"""Duplicate n-gram spans, deterministic sampling, and term stats
(beats_analytics.{spans,sample,terms})."""
import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from beats_analytics import (
    cap_per_key, doc_frequency, doc_ngrams, hash_sample,
    ngram_duplicate_stats, tfidf_top_terms,
)

try:  # Spark 4 moves it
    from pyspark.errors import SparkRuntimeException as _RuntimeErr
except ImportError:  # pragma: no cover
    _RuntimeErr = Exception


# ------------------------------------------------------------- spans

def test_doc_ngrams_basic(spark):
    df = spark.createDataFrame([("A b c d",), ("x y",), ("",)], ["t"])
    got = [r.g for r in
           df.select(doc_ngrams(F.col("t"), 3).alias("g")).collect()]
    assert got == [["a b c", "b c d"], [], []]


def test_ngram_duplicate_stats_hand_case(spark):
    docs = spark.createDataFrame([
        (1, "the cat sat on the mat"),       # 4 3-grams
        (2, "the cat sat by a window"),      # shares 'the cat sat'
        (3, "totally unrelated words here"),
        (4, "hi"),                           # shorter than n
    ], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           ngram_duplicate_stats(docs, n=3).collect()}
    assert out[1].n_ngrams == 4 and out[1].dup_ngrams == 1
    assert out[2].n_ngrams == 4 and out[2].dup_ngrams == 1
    assert out[1].dup_frac == 0.25
    assert out[3].dup_ngrams == 0
    assert out[4].n_ngrams == 0 and out[4].dup_frac == 0.0


def test_ngram_stats_hash_and_text_modes_agree(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = ngram_duplicate_stats(docs, n=3, by_hash=True)
    b = ngram_duplicate_stats(docs, n=3, by_hash=False)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_ngram_within_doc_repeats_count(spark):
    # a doc repeating its own n-gram makes that n-gram corpus-count 2
    docs = spark.createDataFrame(
        [(1, "go go go go")], ["doc_id", "text"])  # 'go go' x3... n=2
    out = ngram_duplicate_stats(docs, n=2).collect()[0]
    assert out.n_ngrams == 3 and out.dup_ngrams == 3


# ------------------------------------------------------------ sample

def test_cap_per_key(spark):
    rows = [(u, i) for u in ("a", "b") for i in range(10)]
    df = spark.createDataFrame(rows, ["k", "v"])
    out = cap_per_key(df, "k", 3, order_by=[F.col("v").desc()],
                      keep_rank=True)
    got = sorted((r.k, r.v, r.rank_in_key) for r in out.collect())
    assert got == [("a", 7, 3), ("a", 8, 2), ("a", 9, 1),
                   ("b", 7, 3), ("b", 8, 2), ("b", 9, 1)]
    with pytest.raises(ValueError):
        cap_per_key(df, "k", 0)


def test_hash_sample_deterministic_and_partition_stable(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], ["id"])
    a = sorted(r.id for r in
               hash_sample(df, "id", 0.3, seed="s").collect())
    b = sorted(r.id for r in
               hash_sample(df.repartition(7), "id", 0.3, seed="s")
               .collect())
    assert a == b
    assert 0.25 < len(a) / 2000 < 0.35
    # different seeds draw different samples
    c = sorted(r.id for r in
               hash_sample(df, "id", 0.3, seed="t").collect())
    assert a != c
    # consistency: a subset fraction nests inside a superset fraction
    d = sorted(r.id for r in
               hash_sample(df, "id", 0.1, seed="s").collect())
    assert set(d) <= set(a)


def test_hash_sample_bounds_and_null_guard(spark):
    df = spark.createDataFrame([(1,), (None,)], "id int")
    with pytest.raises(ValueError):
        hash_sample(df, "id", 1.5)
    with pytest.raises((_RuntimeErr, AnalysisException, Exception)):
        hash_sample(df, "id", 0.5).collect()


def test_hash_sample_zero_and_one(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], ["id"])
    assert hash_sample(df, "id", 0.0).count() == 0
    assert hash_sample(df, "id", 1.0).count() == 50


# ------------------------------------------------------------- terms

def test_doc_frequency_dedups_within_doc(spark):
    docs = spark.createDataFrame(
        [(1, "go go stop"), (2, "go")], ["doc_id", "text"])
    got = {r.term: r.doc_freq for r in doc_frequency(docs).collect()}
    assert got == {"go": 2, "stop": 1}


def test_tfidf_top_terms_hand_case(spark):
    docs = spark.createDataFrame([
        (1, "en", "apple apple shared"),
        (2, "en", "shared"),
        (3, "de", "birne birne shared"),
    ], ["doc_id", "lang", "text"])
    out = tfidf_top_terms(docs, group_col="lang", k=2, min_doc_freq=1)
    rows = {(r.group, r.term): r for r in out.collect()}
    # 'shared' has doc_freq 3 = N -> idf ln(1) = 0
    assert rows[("en", "shared")].tfidf == 0.0
    # 'apple': 2 * ln(3/1)
    import math
    assert rows[("en", "apple")].tfidf == round(2 * math.log(3.0), 6)
    assert rows[("en", "apple")].rank == 1
    assert rows[("de", "birne")].rank == 1
    # min_doc_freq filters singleton terms
    out2 = tfidf_top_terms(docs, group_col="lang", k=2, min_doc_freq=2)
    assert set(r.term for r in out2.collect()) == {"shared"}


# ------------------------------------------------------ span removal

def test_remove_duplicate_spans_keep_first(spark):
    from beats_analytics import remove_duplicate_spans
    docs = spark.createDataFrame([
        (1, "the cat sat on the mat"),   # first occurrence survives
        (2, "the cat sat by a window"),  # loses 'the cat sat'
        (3, "hi"),                       # shorter than n: unchanged
        (4, ""),                         # empty: unchanged
    ], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           remove_duplicate_spans(docs, n=3).collect()}
    assert out[1].clean_text == "the cat sat on the mat"
    assert out[1].removed_tokens == 0
    # doc 2 loses tokens 0..2 exactly
    assert out[2].clean_text == "by a window"
    assert out[2].removed_tokens == 3 and out[2].n_tokens == 6
    assert out[3].clean_text == "hi" and out[3].n_tokens == 1
    assert out[4].clean_text == "" and out[4].n_tokens == 0


def test_remove_duplicate_spans_drop_all_and_overlap(spark):
    from beats_analytics import remove_duplicate_spans
    docs = spark.createDataFrame([
        (1, "a b c d e"),
        (2, "a b c d x"),   # shares 'a b c' and 'b c d' (overlap)
    ], ["doc_id", "text"])
    out = {r.doc_id: r for r in
           remove_duplicate_spans(docs, n=3, keep_first=False)
           .collect()}
    # keep_first=False removes EVERY occurrence: tokens 0..3 covered
    assert out[1].clean_text == "e" and out[1].removed_tokens == 4
    assert out[2].clean_text == "x" and out[2].removed_tokens == 4


def test_remove_duplicate_spans_within_doc_repeat(spark):
    from beats_analytics import remove_duplicate_spans
    # the repeat inside ONE doc: second occurrence removed, first kept
    docs = spark.createDataFrame(
        [(1, "x y z q x y z")], ["doc_id", "text"])
    out = remove_duplicate_spans(docs, n=3).collect()[0]
    assert out.clean_text == "x y z q"
    assert out.removed_tokens == 3


def test_remove_spans_hash_and_text_modes_agree(spark, sf_dir):
    from beats_analytics import remove_duplicate_spans
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = remove_duplicate_spans(docs, n=3, by_hash=True)
    b = remove_duplicate_spans(docs, n=3, by_hash=False)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_remove_duplicate_spans_null_text(spark):
    from beats_analytics import remove_duplicate_spans
    docs = spark.createDataFrame([(1, None), (2, "a b")],
                                 "doc_id long, text string")
    out = {r.doc_id: r for r in
           remove_duplicate_spans(docs, n=3).collect()}
    assert out[1].clean_text == "" and out[1].n_tokens == 0
    assert out[1].removed_tokens == 0
    assert out[2].clean_text == "a b" and out[2].n_tokens == 2


# ----------------------------------------------------------- mixture

def test_mixture_plan_weights(spark):
    from beats_analytics import mixture_plan
    rows = [("en", i) for i in range(800)] + \
           [("de", i) for i in range(100)] + \
           [("es", i) for i in range(300)]
    df = spark.createDataFrame(rows, ["lang", "id"])
    plan = {r.group: r for r in
            mixture_plan(df, "lang",
                         weights={"en": 2, "de": 1, "es": 1}).collect()}
    # T = min(800/.5, 100/.25, 300/.25) = 400 -> en 200, de 100, es 100
    assert plan["de"].keep_bound == 1_000_000          # all of de
    assert plan["en"].keep_bound == 250_000            # 200/800
    assert plan["es"].keep_bound == pytest.approx(333_333, abs=1)


def test_mixture_sample_proportions_and_determinism(spark):
    from beats_analytics import mixture_sample
    rows = [("en", i) for i in range(4000)] + \
           [("de", i + 10_000) for i in range(500)] + \
           [("xx", i + 50_000) for i in range(50)]
    df = spark.createDataFrame(rows, ["lang", "id"])
    s = mixture_sample(df, "lang", "id",
                       weights={"en": 1, "de": 1}, seed="t")
    got = {r.lang: r.n for r in
           s.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "xx" not in got                 # unweighted group dropped
    assert got["de"] == 500                # the binding group: all kept
    # en targets 500 of 4000 (12.5%); md5 quantization ~ +-3%
    assert 420 <= got["en"] <= 580
    # determinism: same seed, same rows
    a = sorted(r.id for r in s.collect())
    b = sorted(r.id for r in
               mixture_sample(df.repartition(7), "lang", "id",
                              weights={"en": 1, "de": 1}, seed="t")
               .collect())
    assert a == b


def test_mixture_temperature_and_errors(spark):
    from beats_analytics import mixture_plan, mixture_sample
    rows = [("a", i) for i in range(900)] + \
           [("b", i + 1000) for i in range(100)]
    df = spark.createDataFrame(rows, ["g", "id"])
    # temperature 1 = natural proportions: every group keeps all rows
    p1 = {r.group: r.keep_bound for r in
          mixture_plan(df, "g", temperature=1.0).collect()}
    assert p1 == {"a": 1_000_000, "b": 1_000_000}
    # temperature 0 = equal shares: the small group binds
    p0 = {r.group: r.keep_bound for r in
          mixture_plan(df, "g", temperature=0.0).collect()}
    assert p0["b"] == 1_000_000
    assert p0["a"] == pytest.approx(111_111, abs=1)    # 100/900
    with pytest.raises(ValueError):
        mixture_plan(df, "g")
    with pytest.raises(ValueError):
        mixture_plan(df, "g", weights={"a": 1}, temperature=1.0)
    with pytest.raises(ValueError):
        mixture_plan(df, "g", weights={})
    # a weighted group with no rows makes the mixture unachievable
    empty = mixture_plan(df, "g", weights={"a": 1, "zz": 1})
    assert all(r.keep_bound == 0 for r in empty.collect())


def test_mixture_total_rows_cap(spark):
    from beats_analytics import mixture_plan
    rows = [("a", i) for i in range(1000)] + \
           [("b", i + 5000) for i in range(1000)]
    df = spark.createDataFrame(rows, ["g", "id"])
    plan = {r.group: r.keep_bound for r in
            mixture_plan(df, "g", weights={"a": 1, "b": 1},
                         total_rows=400).collect()}
    # 200 of 1000 from each group
    assert plan == {"a": 200_000, "b": 200_000}


# ------------------------------------------------- incremental dedup

def test_dedup_against(spark):
    from beats_analytics import dedup_against
    seen = spark.createDataFrame(
        [(1, "old page one"), (2, "old page two")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(10, "brand new page"),
         (11, "old page one"),        # re-crawl of history: drop
         (12, "another new page"),
         (13, "another new page"),    # within-batch dup: keep min id
         (14, None)],                 # null text: its own digest-less row
        ["doc_id", "text"])
    out = sorted(r.doc_id for r in dedup_against(new, seen).collect())
    assert out == [10, 12, 14]
    # within_batch=False keeps both batch copies
    out2 = sorted(r.doc_id for r in
                  dedup_against(new, seen, within_batch=False).collect())
    assert out2 == [10, 12, 13, 14]
    # custom key: URL-keyed ingestion
    s2 = spark.createDataFrame([("http://a.com/x",)], ["url"])
    n2 = spark.createDataFrame(
        [(1, "HTTP://A.com:80/x"), (2, "http://b.com/y")],
        ["doc_id", "url"])
    from beats_analytics import canonical_url
    got = sorted(r.doc_id for r in
                 dedup_against(n2, s2, id_col="doc_id",
                               key=canonical_url(F.col("url"))).collect())
    assert got == [2]


def test_dedup_incremental_query_nonvacuous(spark, sf_dir):
    """Both drop mechanisms fire on real data: re-crawls (vs history)
    and within-batch copies each remove rows."""
    from beats_analytics.queries import QUERIES
    out = QUERIES["dedup_incremental"](spark, sf_dir)
    ids = sorted(r.doc_id for r in out.collect())
    assert len(ids) == 250                     # only genuinely-new pages
    assert all(250 <= i < 1000 for i in ids)   # no re-crawl/copy ids


# --------------------------------------------------- quantile buckets

def test_quantile_buckets(spark):
    from beats_analytics import quantile_buckets
    rows = [("a", i, float(i)) for i in range(9)] + \
           [("b", 100, None), ("b", 101, 5.0), ("b", 102, 1.0)]
    df = spark.createDataFrame(rows, "g string, id long, s double")
    out = {r.id: r.bucket for r in
           quantile_buckets(df, "s", "id", k=3, by="g",
                            labels=("head", "middle", "tail"))
           .collect()}
    # group a: 9 rows desc -> 8,7,6 head; 5,4,3 middle; 2,1,0 tail
    assert out[8] == out[7] == out[6] == "head"
    assert out[5] == out[4] == out[3] == "middle"
    assert out[2] == out[1] == out[0] == "tail"
    # group b: NULL score sorts last -> worst bucket
    assert out[101] == "head" and out[100] == "tail"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        quantile_buckets(df, "s", "id", k=2, labels=("x",))
    with _pytest.raises(ValueError):
        quantile_buckets(df, "s", "id", k=0)


def test_ngram_stats_string_ids(spark):
    """Short docs with STRING ids keep distinct per-doc keys (a cast
    to long would NULL out and collapse them into one hot group, and
    would throw under ANSI mode)."""
    from beats_analytics import ngram_duplicate_stats
    docs = spark.createDataFrame(
        [("http://a/x", "hi"), ("http://b/y", "yo"),
         ("http://c/z", "the cat sat on a mat")],
        "doc_id string, text string")
    out = {r.doc_id: r for r in
           ngram_duplicate_stats(docs, n=3).collect()}
    assert out["http://a/x"].n_ngrams == 0
    assert out["http://b/y"].n_ngrams == 0
    assert out["http://c/z"].n_ngrams == 4


# ---- token_budget_sample / corpus_shuffle -------------------------------

def _budget_naive(spark, df, key_col, tokens_col, budget, seed=""):
    """The definition: global cumsum over (h, key) order, cum <= b."""
    from pyspark.sql import Window
    from beats_analytics.sample import _priority60
    w = (Window.orderBy(F.col("__h"), F.col(key_col))
         .rowsBetween(Window.unboundedPreceding, 0))
    return (df.withColumn("__h", _priority60(key_col, seed, "naive"))
            .withColumn("__cum", F.sum(tokens_col).over(w))
            .filter(F.col("__cum") <= budget)
            .drop("__h", "__cum"))


def _toy_docs(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 37 * 13 % 101).cast("long").alias("n_tok"))


def test_token_budget_matches_global_window(spark):
    from beats_analytics import token_budget_sample
    df = _toy_docs(spark)
    total = df.agg(F.sum("n_tok")).first()[0]
    for budget in (0, 1, total // 3, total // 2, total, total + 10):
        got = sorted(r.doc_id for r in token_budget_sample(
            df, "doc_id", "n_tok", budget, n_buckets=8).collect())
        want = sorted(r.doc_id for r in _budget_naive(
            spark, df, "doc_id", "n_tok", budget).collect())
        assert got == want, f"budget={budget}"
    # budget >= total keeps everything
    assert len(got) == df.count()


def test_token_budget_exact_boundary_and_zero_tokens(spark):
    from beats_analytics import token_budget_sample
    from beats_analytics.sample import _priority60
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate([5, 0, 7, 0, 3, 9, 0, 2])],
        ["doc_id", "n_tok"])
    ordered = (df.withColumn("__h", _priority60("doc_id", "", "t"))
               .orderBy("__h", "doc_id").collect())
    # budget lands exactly on the cumsum after the 3rd doc in h-order
    cum = 0
    for k, r in enumerate(ordered):
        cum += r.n_tok
        if k == 2:
            budget = cum
            break
    kept = {r.doc_id for r in token_budget_sample(
        df, "doc_id", "n_tok", budget, n_buckets=4).collect()}
    # prefix through doc 3 plus any zero-token docs at the same cum
    cum2, want = 0, set()
    for r in ordered:
        cum2 += r.n_tok
        if cum2 <= budget:
            want.add(r.doc_id)
    assert kept == want and ordered[0].doc_id in kept


def test_token_budget_partition_invariance_and_cum(spark):
    from beats_analytics import token_budget_sample
    df = _toy_docs(spark, 300)
    a = token_budget_sample(df, "doc_id", "n_tok", 2000,
                            seed="s1", n_buckets=16)
    b = token_budget_sample(df.repartition(13), "doc_id", "n_tok",
                            2000, seed="s1", n_buckets=16)
    assert sorted(r.doc_id for r in a.collect()) \
        == sorted(r.doc_id for r in b.collect())
    # keep_cum: any boundary rows carry exact prefix totals <= budget,
    # and the selected total never exceeds the budget
    c = token_budget_sample(df, "doc_id", "n_tok", 2000,
                            seed="s1", n_buckets=16, keep_cum=True)
    rows = c.collect()
    assert all(r.cum_tokens <= 2000 for r in rows
               if r.cum_tokens is not None)
    assert sum(r.n_tok for r in rows) <= 2000 < df.agg(
        F.sum("n_tok")).first()[0]


def test_token_budget_guards(spark):
    from beats_analytics import token_budget_sample
    df = _toy_docs(spark, 10)
    with pytest.raises(ValueError):
        token_budget_sample(df, "doc_id", "n_tok", -1)
    with pytest.raises(ValueError):
        token_budget_sample(df, "doc_id", "n_tok", 5, n_buckets=3)
    bad = spark.createDataFrame([(1, None)], "doc_id int, n_tok int")
    with pytest.raises(Exception, match="non-null"):
        token_budget_sample(bad, "doc_id", "n_tok", 5).collect()


def test_corpus_shuffle_is_exact_permutation(spark):
    from pyspark.sql import Window
    from beats_analytics import corpus_shuffle
    from beats_analytics.sample import _priority60
    df = _toy_docs(spark, 257)
    out = corpus_shuffle(df, "doc_id", seed="e0", n_buckets=8)
    rows = out.collect()
    assert sorted(r.shuffle_pos for r in rows) == list(range(1, 258))
    # matches the single-window definition exactly
    w = Window.orderBy(F.col("__h"), F.col("doc_id"))
    want = {(r.doc_id, r.pos) for r in
            df.withColumn("__h", _priority60("doc_id", "e0", "t"))
              .withColumn("pos", F.row_number().over(w))
              .collect()}
    assert {(r.doc_id, r.shuffle_pos) for r in rows} == want


def test_corpus_shuffle_seed_and_stability(spark):
    from beats_analytics import corpus_shuffle
    df = _toy_docs(spark, 100)
    a = {(r.doc_id, r.shuffle_pos) for r in
         corpus_shuffle(df, "doc_id", seed="e1").collect()}
    b = {(r.doc_id, r.shuffle_pos) for r in
         corpus_shuffle(df.repartition(7), "doc_id",
                        seed="e1").collect()}
    c = {(r.doc_id, r.shuffle_pos) for r in
         corpus_shuffle(df, "doc_id", seed="e2").collect()}
    assert a == b          # partition-invariant
    assert a != c          # epochs draw different permutations


def test_token_budget_per_group_matches_partitioned_window(spark):
    from pyspark.sql import Window
    from beats_analytics import token_budget_sample
    from beats_analytics.sample import _priority60
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.element_at(F.array(F.lit("a"), F.lit("b"), F.lit("c")),
                     (F.col("id") % 3 + 1).cast("int")).alias("src"),
        (F.col("id") % 41 * 7 % 53).cast("long").alias("n_tok"))
    budgets = {"a": 400, "b": 150}
    got = sorted((r.src, r.doc_id) for r in token_budget_sample(
        df, "doc_id", "n_tok", budgets, seed="g", n_buckets=8,
        by="src").collect())
    w = (Window.partitionBy("src")
         .orderBy(F.col("__h"), F.col("doc_id"))
         .rowsBetween(Window.unboundedPreceding, 0))
    naive = (df.withColumn("__h", _priority60("doc_id", "g", "t"))
             .withColumn("__cum", F.sum("n_tok").over(w)))
    want = sorted((r.src, r.doc_id) for r in naive.collect()
                  if r.src in budgets and r["__cum"] <= budgets[r.src])
    assert got == want and {s for s, _ in got} == {"a", "b"}


def test_token_budget_group_guards(spark):
    from beats_analytics import token_budget_sample
    df = spark.createDataFrame([(1, "a", 5)],
                               ["doc_id", "src", "n_tok"])
    with pytest.raises(ValueError, match="requires by="):
        token_budget_sample(df, "doc_id", "n_tok", {"a": 5})
    with pytest.raises(ValueError, match="non-empty"):
        token_budget_sample(df, "doc_id", "n_tok", {}, by="src")
    with pytest.raises(ValueError, match="non-empty"):
        token_budget_sample(df, "doc_id", "n_tok", {"a": -1},
                            by="src")
    nullg = spark.createDataFrame([(1, None, 5)],
                                  "doc_id int, src string, n_tok int")
    with pytest.raises(Exception, match="null src"):
        token_budget_sample(nullg, "doc_id", "n_tok", 5,
                            by="src").collect()
    # constant budget + by: every group cut independently at 5
    multi = spark.createDataFrame(
        [(i, "g%d" % (i % 2), 3) for i in range(10)],
        ["doc_id", "src", "n_tok"])
    out = token_budget_sample(multi, "doc_id", "n_tok", 5,
                              by="src").collect()
    per = {}
    for r in out:
        per[r.src] = per.get(r.src, 0) + r.n_tok
    assert set(per) == {"g0", "g1"} and all(v <= 5 for v in per.values())


# ------------------------------------------------------- lang_spans

def test_lang_spans_merges_adjacent_and_segments_switches(spark):
    from beats_analytics.textstats import lang_spans
    docs = spark.createDataFrame([
        # en, en -> ONE span of 2; then de span; then en again
        (1, "the and of to is\n\nthe of is\n\nder und das ist\n\n"
            "the and of"),
        # no markers anywhere -> single 'und' span covering all paras
        (2, "zzz qqq\n\nxxx yyy"),
    ], "doc_id long, text string")
    got = {(r.id, r.span_id): (r.lang, r.n_paras, r.pos_start, r.pos_end)
           for r in lang_spans(docs).collect()}
    assert got[(1, 1)] == ("en", 2, 0, 1)
    assert got[(1, 2)] == ("de", 1, 2, 2)
    assert got[(1, 3)] == ("en", 1, 3, 3)
    assert got[(2, 1)] == ("und", 2, 0, 1)


def test_lang_spans_single_window_exchange(spark, sf_dir):
    """Paragraphs of one doc land in one partition: the split +
    marker ID is map-side; the plan's only exchanges are the span
    window and the final span groupBy (which AQE may co-locate)."""
    from beats_analytics.textstats import lang_spans
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (lang_spans(docs)._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("Exchange") <= 2
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# ----------------------------------------------------- phrase_search

def test_phrase_search_overlaps_positions_and_pushdown(spark):
    from beats_analytics.terms import phrase_search
    import pytest as _pytest
    d = spark.createDataFrame(
        [(1, "a a a b"), (2, "x a a y a a"), (3, "a b a")],
        "doc_id long, text string")
    got = sorted(map(tuple, phrase_search(d, "a a").collect()))
    # doc 1: positions 0,1 (overlapping); doc 2: 1 and 4; doc 3: none
    assert got == [(1, 2, 0), (2, 2, 1)]
    three = sorted(map(tuple, phrase_search(d, "a a a").collect()))
    assert three == [(1, 1, 0)]
    with _pytest.raises(ValueError, match="empty"):
        phrase_search(d, "   ")
    # the term filter reaches the index before any join: no join input
    # scans unfiltered postings
    plan = (phrase_search(d, "a b")._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("Filter") >= 2 and "CartesianProduct" not in plan


# ------------------------------------------------------ collocations

def test_collocations_lift_ranking_and_exact_scores(spark):
    from beats_analytics.terms import collocations
    # "new york" is the only pair of exclusive companions; every
    # other bigram has at least one high-frequency member diluting it
    rows = [(i, "the cat sat the cat ran the new york the dog sat")
            for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = collocations(df, min_count=5, k=5).collect()
    assert (got[0].w1, got[0].w2) == ("new", "york")
    # exact integer score: n_pair=6, N=66 bigrams, n_new=n_york=6
    assert got[0].score_micro == (6 * 66 * 1000000) // (6 * 6)
    # ranking is a deterministic total order (score, w1, w2)
    keys = [(-r.score_micro, r.w1, r.w2) for r in got]
    assert keys == sorted(keys)


# ---------------------------------------------------- sparse cosine

def test_sparse_cosine_values_and_stop_term_cutoff(spark):
    import math
    from beats_analytics.terms import sparse_cosine_pairs
    docs = spark.createDataFrame([
        (1, "a b c"), (2, "a b c"),          # identical -> 1.0
        (3, "x y z"),                        # orthogonal to 1/2
        (4, "a a a a b"),                    # skewed tf vs doc 1
    ], "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.cosine
           for r in sparse_cosine_pairs(docs, threshold=0.0).collect()}
    # ngram guard
    import pytest as _pt
    with _pt.raises(ValueError, match="ngram"):
        sparse_cosine_pairs(docs, ngram=0)
    assert got[(1, 2)] == 1.0
    assert (1, 3) not in got and (2, 3) not in got
    # exact value: dot=4+1=5, |d1|=sqrt(3), |d4|=sqrt(17)
    assert got[(1, 4)] == round(5 / (math.sqrt(3) * math.sqrt(17)), 6)
    # stop-term cutoff: 'a' and 'b' are in 3 docs; max_doc_freq=2
    # removes them, killing the (1,4) pair entirely
    pruned = {(r.id_a, r.id_b)
              for r in sparse_cosine_pairs(docs, threshold=0.0,
                                           max_doc_freq=2).collect()}
    assert (1, 4) not in pruned and (1, 2) in pruned  # c survives (df=2)


def test_winnow_guarantee_and_known_values(spark):
    """Winnowing's core guarantee: any shared substring of length
    >= k + w - 1 contributes at least one COMMON fingerprint to both
    docs; plus a hand-checkable tiny case."""
    from beats_analytics.dedup import winnow_fingerprints
    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [(1, "AAA " + shared + " BBB"),
         (2, "xyz123 " + shared + " qqq"),
         (3, "completely different content here")],
        ["doc_id", "text"])
    out = winnow_fingerprints(df, k=5, w=4)
    rows = out.collect()
    fps = {i: {r["fp"] for r in rows if r["doc_id"] == i} for i in (1, 2, 3)}
    assert fps[1] & fps[2], "shared substring must share a fingerprint"
    assert not (fps[1] & fps[3]) or len(fps[1] & fps[3]) < len(fps[1] & fps[2])
    # tiny doc: normalized 'abcde' -> one 5-gram, one window, pos 1
    tiny = winnow_fingerprints(
        spark.createDataFrame([(9, "ab c-d E")], ["doc_id", "text"]),
        k=5, w=4).collect()
    assert len(tiny) == 1 and tiny[0]["pos"] == 1
    import hashlib
    want = int(hashlib.md5(b"abcde").hexdigest()[:15], 16)
    assert tiny[0]["fp"] == want
    # below k normalized chars: no fingerprints, not a crash
    none = winnow_fingerprints(
        spark.createDataFrame([(8, "a b"), (7, None)],
                              "doc_id long, text string"),
        k=5, w=4).collect()
    assert none == []


def test_winnow_pairs_finds_shared_passage(spark):
    from beats_analytics.dedup import winnow_pairs
    passage = ("winnowing guarantees matches for substrings of length "
               "at least k plus w minus one characters in both texts")
    df = spark.createDataFrame(
        [(1, "intro words here. " + passage + " trailing stuff"),
         (2, "other document begins " + passage + " and then ends"),
         (3, "nothing in common with the others at all whatsoever"),
         (4, "fourth text also fully unrelated to every other row")],
        ["doc_id", "text"])
    got = {(r["id_a"], r["id_b"]) for r in
           winnow_pairs(df, k=5, w=4, min_shared=5,
                        max_fp_freq=3).collect()}
    assert (1, 2) in got
    assert all(p == (1, 2) for p in got)
    # no SortMergeJoin on the tiny fp frames under AQE, and the
    # fingerprint kernel is barrier'd (one InMemory/checkpoint scan
    # feeds three consumers) -- structural, so just assert it runs
    # deterministically twice
    got2 = {(r["id_a"], r["id_b"]) for r in
            winnow_pairs(df, k=5, w=4, min_shared=5,
                         max_fp_freq=3).collect()}
    assert got2 == got


def test_percolate_and_semantics_lang_gate_and_zero_match(spark):
    from beats_analytics.terms import percolate
    from pyspark.sql.types import (ArrayType, StringType, StructField,
                                   StructType)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma", "en"),
         (2, "alpha beta beta", "fr"),     # repeats must not double-count
         (3, "beta gamma delta", "en"),
         (4, "alpha", "en")],
        "doc_id long, text string, lang string")
    schema = StructType([
        StructField("query_id", StringType()),
        StructField("lang", StringType()),
        StructField("terms", ArrayType(StringType()))])
    stored = spark.createDataFrame(
        [("ab_any", None, ["alpha", "beta"]),
         ("ab_en", "en", ["alpha", "beta"]),
         ("dup_terms", None, ["beta", "beta"]),  # dup in query == single
         ("none", None, ["zzz"])], schema)
    out = {r["query_id"]: r for r in percolate(docs, stored).collect()}
    assert out["ab_any"]["n_docs"] == 2          # docs 1, 2
    assert (out["ab_any"]["first_doc"], out["ab_any"]["last_doc"]) == (1, 2)
    assert out["ab_en"]["n_docs"] == 1           # lang gate drops doc 2
    assert out["dup_terms"]["n_docs"] == 3       # beta in docs 1,2,3
    assert out["none"]["n_docs"] == 0            # zero-match still reported
    assert out["none"]["first_doc"] is None


def test_bm25_fixed_point_known_values(spark):
    from beats_analytics.terms import bm25_topk
    import math
    docs = spark.createDataFrame(
        [(1, "x x y pad pad"),      # tf(x)=2, tf(y)=1, dl=5
         (2, "x pad pad"),          # tf(x)=1, dl=3
         (3, "pad pad pad pad")],   # no hit
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           bm25_topk(docs, ["x", "y"], k=10).collect()}
    assert 3 not in out and len(out) == 2
    # replay the documented fixed-point formula
    s, n = (5 + 3 + 4) * 1000, 3
    a = s // n
    def idf(df):
        return round(1e6 * math.log((n - df + 0.5) / (df + 0.5) + 1.0))
    def frac(tf, dl):
        return (22 * tf * a * 1000000) // (10 * tf * a + 3 * a
                                           + 9 * dl * 1000)
    exp1 = idf(2) * frac(2, 5) + idf(1) * frac(1, 5)
    exp2 = idf(2) * frac(1, 3)
    assert out[1]["score_u12"] == exp1
    assert out[2]["score_u12"] == exp2
    assert out[1]["rank"] == 1 and out[1]["n_terms_hit"] == 2
    assert out[2]["rank"] == 2 and out[2]["n_terms_hit"] == 1


def test_kwic_snippets_overlaps_edges_and_short_docs(spark):
    from beats_analytics.terms import kwic_snippets
    docs = spark.createDataFrame(
        [(1, "a a a b c"),        # overlapping matches at 0 and 1
         (2, "x a a"),            # match flush at end
         (3, "a"),                # shorter than the phrase
         (4, None)],              # null text
        "doc_id long, text string")
    out = sorted((r["id"], r["pos"], r["snippet"]) for r in
                 kwic_snippets(docs, "a a", window=1).collect())
    assert out == [(1, 0, "a a a"),    # left edge clipped
                   (1, 1, "a a a b"),
                   (2, 1, "x a a")]    # right edge clipped


def test_term_drift_known_ratios_and_directions(spark):
    from beats_analytics.terms import term_drift
    old = spark.createDataFrame(
        [(1, "up dn dn dn dn flat flat")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(2, "up up up up dn flat flat")], "doc_id long, text string")
    out = {(r["term"], r["direction"]): r for r in
           term_drift(old, new, min_count=2, k=3).collect()}
    t_o = t_n = 7
    def score(n_old, n_new):
        return ((n_new + 1) * (t_o + 1) * 1000000) // \
               ((n_old + 1) * (t_n + 1))
    assert out[("up", "rising")]["score_micro"] == score(1, 4)
    assert out[("dn", "falling")]["score_micro"] == score(4, 1)
    assert out[("flat", "rising")]["score_micro"] == score(2, 2) \
        == 1000000


def test_trigram_grep_exact_vs_direct_scan_and_guards(spark):
    import pytest
    from beats_analytics.terms import trigram_grep
    docs = spark.createDataFrame(
        [(1, "xxabcxx"),          # one hit
         (2, "ababab"),           # "aba": non-overlap count = 1... 
         (3, "no hit here"),
         (4, "abcabcabc"),        # three hits of "abc"
         (5, None),
         (6, "ab")],              # shorter than needle
        "doc_id long, text string")
    got = {r["id"]: r["n_matches"]
           for r in trigram_grep(docs, "abc").collect()}
    assert got == {1: 1, 4: 3}
    # case-sensitive byte semantics
    up = spark.createDataFrame([(1, "ABC abc")],
                               "doc_id long, text string")
    assert {r["id"]: r["n_matches"]
            for r in trigram_grep(up, "ABC").collect()} == {1: 1}
    with pytest.raises(ValueError):
        trigram_grep(docs, "ab")


def test_cdc_chunks_edit_locality_and_edges(spark):
    """The CDC property: prepending text to a document changes only
    the chunks up to the first content-defined cut AFTER the edit —
    every later chunk digest is identical (fixed-stride chunking
    would re-align and change all of them). Plus edge cases: empty,
    NULL, and shorter-than-k texts come back as one chunk (or none
    when empty) without crashing."""
    from beats_analytics.dedup import cdc_chunks
    import random
    rng = random.Random(7)
    base = "".join(rng.choice("abcdefgh ") for _ in range(600))
    df = spark.createDataFrame(
        [(1, base), (2, "EDITED PREFIX >> " + base)], ["doc_id", "text"])
    out = cdc_chunks(df, k=8, divisor=64).collect()
    d1 = [r["digest"] for r in sorted(
        (r for r in out if r["doc_id"] == 1), key=lambda r: r["chunk_id"])]
    d2 = [r["digest"] for r in sorted(
        (r for r in out if r["doc_id"] == 2), key=lambda r: r["chunk_id"])]
    assert len(d1) > 3, "test text must produce several chunks"
    # all but the first chunk of doc 1 survive the prefix edit
    assert set(d1[1:]) <= set(d2), \
        "chunks after the first cut must be edit-invariant"
    # doc 2 gained at most extra LEADING chunks; suffix sequence equal
    assert d2[-len(d1[1:]):] == d1[1:]

    edge = cdc_chunks(spark.createDataFrame(
        [(3, ""), (4, None), (5, "short")],
        "doc_id long, text string"), k=8, divisor=64).collect()
    by_id = {}
    for r in edge:
        by_id.setdefault(r["doc_id"], []).append(r)
    assert 3 not in by_id and 4 not in by_id
    assert len(by_id[5]) == 1 and by_id[5][0]["n_chars"] == 5
    assert by_id[5][0]["start"] == 1


def test_cdc_dup_stats_counts_shared_chunks(spark):
    """Two docs sharing a long middle passage must share duplicate
    chunk digests, and saved_chars = (copies-1) * n_chars."""
    from beats_analytics.dedup import cdc_chunks, cdc_dup_stats
    import random
    rng = random.Random(11)
    mid = "".join(rng.choice("abcdefgh ") for _ in range(500))
    df = spark.createDataFrame(
        [(1, "headA " + mid + " tailA"),
         (2, "a different head " + mid + " other tail"),
         (3, "unrelated " + "".join(
             rng.choice("pqrstuv ") for _ in range(200)))],
        ["doc_id", "text"])
    stats = cdc_dup_stats(df, k=8, divisor=64).collect()
    assert stats, "shared passage must yield duplicate chunks"
    for r in stats:
        assert r["n_copies"] >= 2 and r["n_docs"] >= 2
        assert r["saved_chars"] == (r["n_copies"] - 1) * r["n_chars"]
    # the duplicate digests really are the shared-middle chunks
    ch = cdc_chunks(df, k=8, divisor=64).collect()
    dup = {r["digest"] for r in stats}
    owners = {d: {r["doc_id"] for r in ch if r["digest"] == d}
              for d in dup}
    assert all(v == {1, 2} for v in owners.values())


def test_rake_keywords_paper_semantics(spark):
    """RAKE on a hand-checkable doc: phrase split at stopwords and
    punctuation, degree/frequency word scores, summed phrase scores,
    deterministic micro-unit integers. 'deep neural networks' must
    outrank single words (degree rewards co-occurrence)."""
    from beats_analytics.terms import rake_keywords
    text = ("Deep neural networks, and deep learning. "
            "Networks of the future!")
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = {r["phrase"]: (r["score_micro"], r["rank"])
           for r in rake_keywords(df, top_k=5).collect()}
    # phrases: 'deep neural networks', 'deep learning', 'networks',
    # 'future'  (split at ',', '.', 'and', 'of the', '!')
    # freq: deep=2 networks=2 neural=1 learning=1 future=1
    # deg:  deep=3+2=5 neural=3 networks=3+1=4 learning=2 future=1
    # wscore (micro): deep=2.5e6 neural=3e6 networks=2e6
    #                 learning=2e6 future=1e6
    assert out["deep neural networks"][0] == 7_500_000
    assert out["deep learning"][0] == 4_500_000
    assert out["networks"][0] == 2_000_000
    assert out["future"][0] == 1_000_000
    assert out["deep neural networks"][1] == 1
    # duplicate phrase collapses to ONE keyword row
    dup = spark.createDataFrame(
        [(2, "alpha beta. alpha beta. gamma")], ["doc_id", "text"])
    rows = rake_keywords(dup, top_k=5).collect()
    assert len([r for r in rows if r["phrase"] == "alpha beta"]) == 1
    # empty / NULL / all-stopword docs yield nothing, no crash
    edge = rake_keywords(spark.createDataFrame(
        [(3, ""), (4, None), (5, "the and of")],
        "doc_id long, text string"), top_k=5).collect()
    assert edge == []


def test_gazetteer_match_longest_overlaps_and_guards(spark):
    import pytest
    from beats_analytics.terms import gazetteer_match
    docs = spark.createDataFrame(
        [(1, "visit New York City and new york today"),
         (2, "the big apple"),          # no entity
         (3, None),                     # NULL text
         (4, "york new york")],         # overlap at different starts
        "doc_id long, text string")
    ents = [("new york city", "city"), ("new york", "city"),
            ("york", "borough"), ("apple", "org")]
    out = sorted((r["doc_id"], r["pos"], r["entity"], r["label"])
                 for r in gazetteer_match(docs, ents).collect())
    # doc 1: "new york city" wins at pos 1 (longest at same start);
    # "york" still matches inside it at pos 2 (different start),
    # trailing "new york" at pos 5, its "york" at pos 6
    assert (1, 1, "new york city", "city") in out
    assert (1, 1, "new york", "city") not in out
    assert (1, 2, "york", "borough") in out
    assert (1, 5, "new york", "city") in out
    assert (2, 2, "apple", "org") in out
    assert not any(d == 3 for d, *_ in out)
    # doc 4: "york" at 0, "new york" wins at 1, "york" at 2
    assert [(p, e) for d, p, e, _ in out if d == 4] == \
        [(0, "york"), (1, "new york"), (2, "york")]
    # longest_only=False reports the shadowed shorter matches too
    full = sorted((r["doc_id"], r["pos"], r["entity"])
                  for r in gazetteer_match(docs, ents,
                                           longest_only=False).collect())
    assert (1, 1, "new york") in full and (1, 1, "new york city") in full
    with pytest.raises(ValueError, match="non-empty"):
        gazetteer_match(docs, [])
    with pytest.raises(ValueError, match="tokenization"):
        gazetteer_match(docs, [("bad–dash", "x")])
    with pytest.raises(ValueError, match="max_ngram"):
        gazetteer_match(docs, [("a b c d", "x")], max_ngram=3)
    # plan: ONE broadcast join, corpus never exchanged before it
    plan = gazetteer_match(docs, ents)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan


def test_ndcg_at_k_known_values(spark):
    """Hand-computed nDCG@3: gains rounded to micro-units first, NULL
    ndcg for queries with no positive judgments, unjudged = rel 0."""
    from beats_analytics.terms import ndcg_at_k
    runs = spark.createDataFrame(
        [("q1", 10, 1), ("q1", 11, 2), ("q1", 12, 3), ("q1", 13, 4),
         ("q2", 20, 1)],
        "query string, doc_id bigint, rank int")
    qrels = spark.createDataFrame(
        # q1: doc 11 rel 2, doc 99 rel 3 (not retrieved); doc 10
        # unjudged → 0. q2: only a rel-0 judgment → idcg 0, NULL ndcg.
        [("q1", 11, 2), ("q1", 99, 3), ("q2", 20, 0)],
        "query string, doc_id bigint, rel bigint")
    out = {r["query"]: r for r in ndcg_at_k(runs, qrels, k=3).collect()}
    # q1 DCG = round(1e6*(2^0-1)/log2(2)) + round(1e6*3/log2(3))
    #        + round(1e6*0/log2(4)) = 0 + 1892789 + 0
    assert out["q1"]["dcg_micro"] == 1892789
    # q1 IDCG: ideal order rel 3 then 2 → 7e6 + 1892789
    assert out["q1"]["idcg_micro"] == 7000000 + 1892789
    assert out["q1"]["ndcg_micro"] == (1_000_000 * 1892789) // 8892789
    assert out["q2"]["idcg_micro"] == 0
    assert out["q2"]["ndcg_micro"] is None
    # rank 4 was excluded by k=3: adding rel to doc 13 must not matter
    qrels2 = qrels.union(spark.createDataFrame(
        [("q1", 13, 3)], "query string, doc_id bigint, rel bigint"))
    out2 = {r["query"]: r
            for r in ndcg_at_k(runs, qrels2, k=3).collect()}
    assert out2["q1"]["dcg_micro"] == out["q1"]["dcg_micro"]


def test_vocab_coverage_known_values(spark):
    from beats_analytics.textstats import vocab_coverage
    df = spark.createDataFrame(
        # trigrams: "a b c"×2 (docs 1,2), "b c d"×1 (doc 2), plus NULL
        # and too-short docs contributing nothing
        [(1, "a b c"), (2, "a b c d"), (3, "x y"), (4, None)],
        "doc_id bigint, text string")
    out = {r["vocab_size"]: r
           for r in vocab_coverage(df, vocab_sizes=(1, 2)).collect()}
    assert out[1]["total"] == 3 and out[1]["covered"] == 2
    assert out[1]["coverage_micro"] == 666666
    assert out[2]["covered"] == 3 and out[2]["coverage_micro"] == 1000000
    # empty corpus: zero totals, NULL coverage (no divide-by-zero)
    empty = spark.createDataFrame([(1, "x y")],
                                  "doc_id bigint, text string")
    row = vocab_coverage(empty, vocab_sizes=(10,)).collect()[0]
    assert row["total"] == 0 and row["covered"] == 0
    assert row["coverage_micro"] is None
    import pytest
    with pytest.raises(ValueError, match="vocab_sizes"):
        vocab_coverage(df, vocab_sizes=())


def test_zipf_fit_known_slope(spark):
    """A constructed corpus with freq(rank) = 64 >> rank (halving) has
    slope -ln2/ln2 steps... verify against a hand-computed fixed-point
    regression on the exact same integer spec."""
    import math
    from beats_analytics.textstats import zipf_fit
    # grams: "g1 g1 g1" repeated 8x, "g2 g2 g2" 4x, "g3 g3 g3" 2x,
    # "g4 g4 g4" 1x -> freq/rank: (1,8),(2,4),(3,2),(4,1)
    rows = []
    did = 0
    for g, n in (("a b c", 8), ("d e f", 4), ("g h i", 2), ("j k l", 1)):
        for _ in range(n):
            did += 1
            rows.append((did, g))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = zipf_fit(df, ngram=3, top_n=10).collect()[0]
    xs = [round(1000 * math.log(r)) for r in (1, 2, 3, 4)]
    ys = [round(1000 * math.log(c)) for c in (8, 4, 2, 1)]
    xm, ym = sum(xs) // 4, sum(ys) // 4
    sxy = sum((x - xm) * (y - ym) for x, y in zip(xs, ys))
    sxx = sum((x - xm) ** 2 for x in xs)

    def tdiv(a, b):          # both engines truncate toward zero,
        q = abs(a) // abs(b)  # Python // floors — not the same for
        return -q if (a < 0) != (b < 0) else q  # negative covariance
    want = -tdiv(1000000 * sxy, sxx)
    assert out["n_grams"] == 4
    assert out["alpha_micro"] == want
    # freq halves per rank-doubling -> slope ~ -1.5 (log2 spacing of
    # ranks 1..4 vs log2 freqs 8..1): sanity band
    assert 1_300_000 < out["alpha_micro"] < 1_700_000
    # degenerate: single gram -> sxx == 0 -> NULL alpha
    one = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    assert zipf_fit(one, top_n=10).collect()[0]["alpha_micro"] is None
