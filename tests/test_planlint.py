"""Plan linting: each rule triggers on a constructed offender and the
catalog-wide sweep enforces the two never-acceptable rules
(CartesianProduct, row-wise Python) across EVERY query's actual plan —
the executable form of the PLANS.md audit."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from beats_spark.planlint import assert_scale_safe, lint_plan


def _rules(findings):
    return {f["rule"] for f in findings}


def test_detects_cartesian(spark):
    a = spark.range(3)
    b = spark.range(3).withColumnRenamed("id", "jd")
    cross = a.crossJoin(b).filter("id + jd > 100")  # non-equi
    assert "cartesian" in _rules(lint_plan(cross)) \
        or "nested_loop" in _rules(lint_plan(cross))
    with pytest.raises(AssertionError, match="scale-unsafe"):
        assert_scale_safe(
            spark.range(3).hint("shuffle_replicate_nl").crossJoin(b),
            label="x")


def test_detects_row_wise_python_udf(spark):
    from pyspark.sql.functions import udf
    slow = udf(lambda x: x + 1, LongType(), useArrow=False)
    df = spark.range(5).select(slow("id").alias("y"))
    assert "python_row_udf" in _rules(lint_plan(df))
    with pytest.raises(AssertionError, match="python_row_udf"):
        assert_scale_safe(df)
    # Arrow-batched stages are NOT flagged
    ok = spark.range(5).mapInPandas(
        lambda it: it, "id long")
    assert "python_row_udf" not in _rules(lint_plan(ok))


def test_detects_single_partition_exchange(spark):
    from pyspark.sql import Window
    df = spark.range(10).withColumn(
        "r", F.row_number().over(Window.orderBy("id")))
    assert "single_partition" in _rules(lint_plan(df))
    # warn-severity: assert_scale_safe does not raise for it
    assert_scale_safe(df)
    # nested_loop is warn (the scalar-broadcast-attach shape is
    # bounded by construction) but still REPORTED for plan review
    b = spark.range(3).withColumnRenamed("id", "jd")
    nl = spark.range(3).join(b, F.col("id") < F.col("jd"), "inner")
    if "nested_loop" in _rules(lint_plan(nl)):
        assert_scale_safe(nl)


def test_clean_plan_has_no_findings(spark):
    df = (spark.range(100).withColumn("k", F.col("id") % 5)
          .groupBy("k").count())
    findings = [f for f in lint_plan(df)
                if f["rule"] != "single_partition"]
    assert findings == []


def test_detects_wide_text_exchange(spark):
    """The dedup_exact class of bug: full document text rides a
    shuffle keyed on something else (digest/rank). Keyed-BY-text,
    round-robin rebalances, aggregate-buffer renames, and aliased
    digest EXPRESSIONS that merely mention the text column in their
    name must NOT trigger."""
    from pyspark.sql import Window
    df = spark.createDataFrame([("doc body", "d1")],
                               "text string, id string")
    # offender: survivor pick via window over full rows
    w = Window.partitionBy("digest").orderBy("id")
    bad = (df.withColumn("digest", F.sha2("text", 256))
           .withColumn("rn", F.row_number().over(w)).filter("rn=1"))
    assert "wide_text_exchange" in _rules(lint_plan(bad))
    with pytest.raises(AssertionError, match="wide_text_exchange"):
        assert_scale_safe(bad)
    # keyed by the text column itself: the key must cross — exempt
    assert "wide_text_exchange" not in _rules(
        lint_plan(df.groupBy("text").count()))
    # round-robin rebalance: payload movement is the purpose — exempt
    assert "wide_text_exchange" not in _rules(
        lint_plan(df.repartition(4)))
    # a digest EXPRESSION naming text inside its alias (the
    # corpus_report shape) is not a carried column — exempt
    g = (df.groupBy("id",
                    F.when(F.col("text").isNull(), "__NULL__")
                    .otherwise(F.md5("text")).alias("dg"))
         .count())
    assert "wide_text_exchange" not in _rules(lint_plan(g))
    # narrow keep-form (the fix): only (digest, id) cross
    ok = (df.withColumn("digest", F.sha2("text", 256))
          .select("digest", "id").groupBy("digest")
          .agg(F.min("id").alias("id")))
    assert "wide_text_exchange" not in _rules(lint_plan(ok))


def test_catalog_sweep_no_silent_scale_killers(spark, sf_dir):
    """EVERY catalog query's plan must be free of CartesianProduct and
    row-wise Python. The documented-bounded exceptions carry their
    justification here, not buried in prose."""
    from beats_analytics.queries import QUERIES
    # CartesianProduct and row-wise Python have NO allowances.
    # wide_text_exchange allowances: multiline/partial-line
    # REASSEMBLY queries must co-locate each file's lines to join
    # them — the message column crossing the path-keyed exchange IS
    # the operator's data-proportional work (one exchange, in-plan),
    # not a passenger leak. (curation_pipeline's former hit was a
    # REAL instance of the bug — full text riding the exact-dedup
    # window — fixed by switching curate() to dedup_exact's
    # (digest, id) keep form.)
    allowed = {
        "container_partial": ("wide_text_exchange",),
        "yaml_inputs": ("wide_text_exchange",),
    }
    failures = []
    for name, fn in sorted(QUERIES.items()):
        try:
            df = fn(spark, sf_dir)
            assert_scale_safe(df, allow=allowed.get(name, ()),
                              label=name)
        except AssertionError as e:
            failures.append(str(e))
        except Exception as e:  # pragma: no cover - plan build issue
            failures.append(f"[{name}] plan build failed: {e}")
    assert not failures, "\n".join(failures)
