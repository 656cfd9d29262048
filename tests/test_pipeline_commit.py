"""The per-run cost contract of the flagship pipeline: the routed write
is the only Spark job a run issues. Small lookups are folded into the
plan with the broadcast join's results; counters and lineage are
written by the driver and read next to parts older runs wrote through
Spark; the catalog supplies snapshot schemas and still reads manifests
that predate them."""

import json
import os
import uuid

from pyspark.sql import functions as F

from beats_spark import fixtures
from beats_spark.catalog import Catalog
from beats_spark.checkpoint import Watermarks
from beats_spark.lookup import _folded_lookup, enrich
from beats_spark.pipeline import (
    FOLD_MAX_ROWS, SINKS, build_events, run_pipeline,
    run_pipeline_incremental)
from beats_spark.processors.enrich import broadcast_enrich

HOST_FIELDS = {"geo_country": "geo_country", "geo_city": "geo_city",
               "asn": "asn", "resolved_ip": "resolved_ip",
               "registered_domain": "registered_domain"}
LANG_FIELDS = {"lang_label": "lang_label", "sink_hint": "sink_hint"}


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` issues, counted through a job group."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_spark_job_per_run(spark, tmp_path):
    hm, lm = fixtures.host_meta(spark), fixtures.lang_meta(spark)
    t = Catalog(str(tmp_path / "cat")).table("pages")
    t.append(fixtures.pages(spark, 100))
    t.append(fixtures.pages(spark, 50))
    first, second = t.snapshot_ids()
    # warm-up: the first plan over these lookup frames collects them
    run_pipeline(spark, t.read_snapshots(spark, [first]), hm, lm,
                 str(tmp_path / "warm"))

    out = str(tmp_path / "drain")
    Watermarks(out).record(first, "history", 200)
    res = {}
    assert _jobs(spark, lambda: res.update(r=run_pipeline_incremental(
        spark, t, hm, lm, out, per_snapshot=True))) == 1
    assert [r.snapshot_id for r in res["r"].sub_runs] == [second]
    assert res["r"].metrics["events.total"] == 100

    assert _jobs(spark, lambda: res.update(r=run_pipeline(
        spark, t.read(spark), hm, lm, str(tmp_path / "batch"),
        lineage=True))) == 1
    assert res["r"].metrics["events.total"] == 300


def _by_event(df):
    return sorted(df.collect(), key=lambda r: (r.url, r.msg_idx))


def _broadcast_reference(events, hm, lm):
    events = broadcast_enrich(events, hm, on="host", lookup_key="host",
                              fields=HOST_FIELDS, action="append",
                              tag_on_failure="host_meta_miss")
    return broadcast_enrich(events, lm, on="lang", lookup_key="lang",
                            fields=LANG_FIELDS, action="append")


def test_folded_enrich_matches_broadcast(spark):
    hm, lm = fixtures.host_meta(spark), fixtures.lang_meta(spark)
    events = build_events(fixtures.pages(spark, 400))
    # the input covers every miss case: a null host (dissect failure),
    # the two hosts host_meta lacks, and zz pages lang_meta lacks
    seen = {(r.host, r.lang) for r in events.select("host", "lang").collect()}
    hosts, langs = {h for h, _ in seen}, {lang for _, lang in seen}
    assert None in hosts and set(fixtures.HOSTS[-2:]) <= hosts
    assert "zz" in langs

    folded = enrich(enrich(events, hm, on="host", lookup_key="host",
                           fields=HOST_FIELDS,
                           tag_on_failure="host_meta_miss"),
                    lm, on="lang", lookup_key="lang", fields=LANG_FIELDS)
    plan = folded._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
    reference = _broadcast_reference(events, hm, lm)
    assert folded.columns == reference.columns
    assert folded.schema == reference.schema
    got, want = _by_event(folded), _by_event(reference)
    assert got == want
    assert any("host_meta_miss" in r.log_flags for r in got if r.host is None)


def test_lookup_above_fold_limit_takes_broadcast_path(spark):
    hm, lm = fixtures.host_meta(spark), fixtures.lang_meta(spark)
    filler = spark.range(FOLD_MAX_ROWS).select(
        F.concat(F.lit("filler-"), F.col("id").cast("string")).alias("host"),
        F.lit("XX").alias("geo_country"), F.lit("nowhere").alias("geo_city"),
        F.col("id").alias("asn"), F.lit("0.0.0.0").alias("resolved_ip"),
        F.lit("filler").alias("registered_domain"))
    big = hm.unionByName(filler)
    assert _folded_lookup(big, "host", HOST_FIELDS) is None

    events = build_events(fixtures.pages(spark, 100))
    enriched = enrich(events, big, on="host", lookup_key="host",
                      fields=HOST_FIELDS, tag_on_failure="host_meta_miss")
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    reference = broadcast_enrich(events, big, on="host", lookup_key="host",
                                 fields=HOST_FIELDS, action="append",
                                 tag_on_failure="host_meta_miss")
    assert enriched.columns == reference.columns
    assert _by_event(enriched) == _by_event(reference)


def test_driver_written_lineage_and_metrics_read_with_spark_parts(
        spark, tmp_path):
    hm, lm = fixtures.host_meta(spark), fixtures.lang_meta(spark)
    pages = fixtures.pages(spark, 200)
    # a space in the path: the file URI must be quoted exactly as Spark
    # quotes it, while ``sink=`` stays unescaped
    out = str(tmp_path / "out dir")
    res = run_pipeline(spark, pages, hm, lm, out, snapshot_id="s1")
    routed = os.path.join(out, "runs", res.run_id, "routed")

    # the parts an older run wrote through Spark, in the same directories
    older = (spark.read.parquet(routed)
             .groupBy("sink", F.input_file_name().alias("file")).count()
             .withColumn("run_id", F.lit("spark-run")))
    older.coalesce(1).write.mode("append").parquet(
        os.path.join(out, "lineage"))
    spark.createDataFrame(
        [("spark-run", k, v) for k, v in res.metrics.items()],
        "run_id string, name string, value bigint",
    ).coalesce(1).write.mode("append").parquet(os.path.join(out, "metrics"))

    lin = spark.read.parquet(os.path.join(out, "lineage"))
    assert lin.columns == ["sink", "file", "count", "run_id"]

    def rows(run_id):
        return sorted(tuple(r) for r in lin.filter(F.col("run_id") == run_id)
                      .select("sink", "file", "count").collect())

    driver, spark_rows = rows(res.run_id), rows("spark-run")
    assert driver == spark_rows and driver
    assert all("/sink=" in f and "%20" in f for _, f, _ in driver)
    per_sink = {}
    for sink, _, n in driver:
        per_sink[sink] = per_sink.get(sink, 0) + n
    assert per_sink == {s: res.metrics[f"output.{s}.events.acked"]
                        for s in SINKS
                        if res.metrics[f"output.{s}.events.acked"]}

    m = spark.read.parquet(os.path.join(out, "metrics"))
    assert [f.simpleString() for f in m.schema.fields] == [
        "run_id:string", "name:string", "value:bigint"]
    for run_id in (res.run_id, "spark-run"):
        got = {r.name: r.value for r in
               m.filter(F.col("run_id") == run_id).collect()}
        assert got == res.metrics

    # no temporary file is left for a reader to trip over
    for d in ("lineage", "metrics"):
        assert not [n for n in os.listdir(os.path.join(out, d))
                    if n.endswith(".tmp")]


def _drop_recorded_schemas(table):
    with open(table._manifest) as f:
        lines = [json.loads(x) for x in f if x.strip()]
    with open(table._manifest, "w") as f:
        for line in lines:
            line.pop("schema", None)
            f.write(json.dumps(line) + "\n")


def test_recorded_schema_skips_inference(spark, tmp_path):
    t = Catalog(str(tmp_path)).table("t")
    df = spark.range(0, 4).withColumnRenamed("id", "x") \
        .withColumn("s", F.col("x").cast("string"))
    sid = t.append(df)
    snap = t.snapshots()[0]
    assert snap.rows == 4 and json.loads(snap.schema) == json.loads(
        df.schema.json())
    assert _jobs(spark, lambda: t.read(spark).schema) == 0
    assert _jobs(spark, lambda: t.read_snapshots(spark, [sid]).schema) == 0
    assert sorted(r.x for r in t.read(spark).collect()) == [0, 1, 2, 3]


def test_manifest_without_schema_reads_by_inference(spark, tmp_path):
    """Manifests written before snapshots recorded their schema: every
    read still works, through parquet schema inference."""
    t = Catalog(str(tmp_path)).table("ev")
    s1 = t.append(spark.range(0, 3).withColumnRenamed("id", "x"))
    _drop_recorded_schemas(t)
    # a newer snapshot with a recorded schema and an added column
    s2 = t.append(spark.range(3, 5).withColumnRenamed("id", "x")
                  .withColumn("lang", F.lit("en")))
    assert [s.schema is None for s in t.snapshots()] == [True, False]

    assert _jobs(spark, lambda: t.read(spark).schema) >= 1
    full = t.read(spark)
    assert set(full.columns) == {"x", "lang"}
    rows = {r["x"]: r["lang"] for r in full.collect()}
    assert rows[0] is None and rows[4] == "en"
    assert t.read(spark, as_of=s1).columns == ["x"]
    assert t.pending({s1}) == [s2]
    df, ids = t.read_incremental(spark, processed=set())
    assert ids == [s1, s2] and df.count() == 5

    # the incremental pipeline drains an inferred snapshot too
    pages = Catalog(str(tmp_path / "cat")).table("pages")
    pages.append(fixtures.pages(spark, 50))
    _drop_recorded_schemas(pages)
    r = run_pipeline_incremental(
        spark, pages, fixtures.host_meta(spark), fixtures.lang_meta(spark),
        str(tmp_path / "out"), per_snapshot=True)
    assert r.metrics["events.total"] == 100
