"""The incremental drain commits a snapshot set in one routed write: a
default-mode drain of N pending snapshots is one Spark job (plus the
jobs a broadcast lookup adds), and each snapshot's watermark and
counters equal those of a ``per_snapshot=True`` drain, which commits
sets of one."""

import functools
import glob
import json
import os
import re
import subprocess
import sys

from pyspark.sql import functions as F

from beats_spark import fixtures, pipeline
from beats_spark.catalog import Catalog
from beats_spark.pipeline import (FOLD_MAX_ROWS, SINKS, commit, run_pipeline,
                                  run_pipeline_incremental)
from test_pipeline_commit import _jobs


def _watermarks(out):
    """snapshot id → recorded events_total."""
    marks = {}
    for p in glob.glob(os.path.join(out, "_watermarks", "*.json")):
        with open(p) as f:
            w = json.load(f)
        marks[w["snapshot_id"]] = w["events_total"]
    return marks


def _routed(spark, out):
    """The rows every run of ``out`` committed."""
    parts = [spark.read.parquet(p)
             for p in glob.glob(os.path.join(out, "runs", "*", "routed"))]
    return functools.reduce(lambda a, b: a.unionByName(b), parts)


def _drain_both_ways(spark, tmp_path, table, hm, lm):
    """Drain ``table`` in the default mode and per snapshot; check that
    the default drain is one routed write whose per-snapshot watermarks,
    counters and rows equal the per-snapshot drain's. Returns the
    default drain's job count and result."""
    ids = table.snapshot_ids()
    # warm-up: the first plan over these lookup frames collects them
    run_pipeline(spark, table.read_snapshots(spark, ids[:1]), hm, lm,
                 str(tmp_path / "warm"))
    one, each = str(tmp_path / "one"), str(tmp_path / "each")
    res = {}
    jobs = _jobs(spark, lambda: res.update(r=run_pipeline_incremental(
        spark, table, hm, lm, one)))
    r = res["r"]
    e = run_pipeline_incremental(spark, table, hm, lm, each,
                                 per_snapshot=True)

    assert [x.snapshot_id for x in r.sub_runs] == ids
    assert [x.snapshot_id for x in e.sub_runs] == ids
    assert [x.metrics for x in r.sub_runs] == [x.metrics for x in e.sub_runs]
    assert _watermarks(one) == _watermarks(each) == {
        x.snapshot_id: x.metrics["events.total"] for x in e.sub_runs}
    # one routed write for the set, one per snapshot otherwise
    assert len(os.listdir(os.path.join(one, "runs"))) == 1
    assert len(os.listdir(os.path.join(each, "runs"))) == len(ids)
    a, b = _routed(spark, one), _routed(spark, each)
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert r.metrics["events.total"] == a.count()

    # every snapshot acked: a rerun in either mode is skipped
    assert run_pipeline_incremental(spark, table, hm, lm, one).skipped
    assert run_pipeline_incremental(spark, table, hm, lm, one,
                                    per_snapshot=True).skipped
    return jobs, r


def test_default_drain_is_one_job_with_per_snapshot_counters(spark,
                                                              tmp_path):
    hm, lm = fixtures.host_meta(spark), fixtures.lang_meta(spark)
    t = Catalog(str(tmp_path / "cat")).table("pages")
    for n in (100, 50, 25):
        t.append(fixtures.pages(spark, n))
    jobs, r = _drain_both_ways(spark, tmp_path, t, hm, lm)
    assert jobs == 1
    assert [x.metrics["events.total"] for x in r.sub_runs] == [200, 100, 50]

    # counters and metrics files per snapshot run, lineage per set
    m = spark.read.parquet(str(tmp_path / "one" / "metrics"))
    for x in r.sub_runs:
        assert x.run_id == f"{r.run_id}-{x.snapshot_id}"
        got = {row.name: row.value
               for row in m.filter(F.col("run_id") == x.run_id).collect()}
        assert got == x.metrics
    lin = spark.read.parquet(str(tmp_path / "one" / "lineage"))
    assert lin.agg(F.sum("count")).first()[0] == 350
    assert {row.run_id for row in lin.select("run_id").collect()} == \
        {r.run_id}


def test_default_drain_with_a_broadcast_lookup_read_from_files(spark,
                                                               tmp_path):
    """A host lookup above ``FOLD_MAX_ROWS`` stays a broadcast join; read
    from parquet, it is a second file source in the routed plan."""
    lm = fixtures.lang_meta(spark)
    filler = spark.range(FOLD_MAX_ROWS).select(
        F.concat(F.lit("filler-"), F.col("id").cast("string")).alias("host"),
        F.lit("XX").alias("geo_country"), F.lit("nowhere").alias("geo_city"),
        F.col("id").alias("asn"), F.lit("0.0.0.0").alias("resolved_ip"),
        F.lit("filler").alias("registered_domain"))
    path = str(tmp_path / "host_meta")
    fixtures.host_meta(spark).unionByName(filler).write.parquet(path)
    hm = spark.read.parquet(path)
    t = Catalog(str(tmp_path / "cat")).table("pages")
    for n in (100, 50, 25):
        t.append(fixtures.pages(spark, n))
    jobs, r = _drain_both_ways(spark, tmp_path, t, hm, lm)
    # the routed write plus the broadcast's own jobs, not one per snapshot
    assert 1 < jobs <= 3
    assert [x.metrics["events.total"] for x in r.sub_runs] == [200, 100, 50]
    assert sum(x.metrics["events.failed"] for x in r.sub_runs) > 0


def test_default_drain_of_empty_and_corrupt_snapshots(spark, tmp_path):
    hm, lm = fixtures.host_meta(spark), fixtures.lang_meta(spark)
    t = Catalog(str(tmp_path / "cat")).table("pages")
    t.append(fixtures.pages(spark, 40))
    t.append(fixtures.pages(spark, 0))
    t.append(fixtures.pages(spark, 30).withColumn(
        "text", F.lit("!!corrupt page with no key=value shape")))
    t.append(fixtures.pages(spark, 20))
    jobs, r = _drain_both_ways(spark, tmp_path, t, hm, lm)
    assert jobs == 1
    full, empty, corrupt, last = [x.metrics for x in r.sub_runs]
    assert [full["events.total"], empty["events.total"],
            corrupt["events.total"], last["events.total"]] == [80, 0, 30, 40]
    assert set(empty.values()) == {0}
    assert corrupt["events.failed"] == 30 == \
        corrupt["output.sink_deadletter.events.acked"]


def _plan(df) -> str:
    """``df``'s optimized plan without its attribute ids."""
    return re.sub(r"#\d+L?", "",
                  df._jdf.queryExecution().optimizedPlan().toString())


def test_set_of_one_plans_as_a_batch_run(spark, tmp_path, monkeypatch):
    """A snapshot set of one (every ``per_snapshot`` set, and a default
    drain of one pending snapshot) commits the ``build_routed`` plan: no
    input-file expression, and the frame's six counters."""
    hm, lm = fixtures.host_meta(spark), fixtures.lang_meta(spark)
    t = Catalog(str(tmp_path / "cat")).table("pages")
    t.append(fixtures.pages(spark, 20))
    t.append(fixtures.pages(spark, 10))
    committed = []

    def spy(routed, *args, **kwargs):
        committed.append((routed, kwargs["snapshots"]))
        return commit(routed, *args, **kwargs)
    monkeypatch.setattr(pipeline, "commit", spy)

    each = str(tmp_path / "each")
    r = run_pipeline_incremental(spark, t, hm, lm, each, per_snapshot=True)
    t.append(fixtures.pages(spark, 5))
    run_pipeline_incremental(spark, t, hm, lm, each)
    run_pipeline_incremental(spark, t, hm, lm, str(tmp_path / "one"))
    assert [len(s) for _, s in committed] == [0, 0, 0, 3]
    for (routed, snapshots), ids in zip(
            committed, [[i] for i in t.snapshot_ids()] + [t.snapshot_ids()]):
        executed = routed._jdf.queryExecution().executedPlan().toString()
        assert ("input_file_name()" in executed) == bool(snapshots)
        if not snapshots:
            assert _plan(routed) == _plan(pipeline.build_routed(
                t.read_snapshots(spark, ids), hm, lm))
    assert [sorted(x.metrics) for x in r.sub_runs] == [sorted(
        ["events.total", "events.failed", "events.published",
         *(f"output.{s}.events.acked" for s in SINKS)])] * 2


def test_submit_script_drains_a_catalog_once(spark, tmp_path):
    """``scripts/submit_pipeline.py --incremental`` drains a two-snapshot
    catalog in one set, prints each snapshot's counters, and a second
    run finds nothing pending."""
    t = Catalog(str(tmp_path / "cat")).table("pages")
    for n in (30, 20):
        t.append(fixtures.pages(spark, n))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo,
               PYSPARK_SUBMIT_ARGS="--master local[2] pyspark-shell")
    cmd = [sys.executable, os.path.join(repo, "scripts", "submit_pipeline.py"),
           "--pages", t.dir, "--out", str(tmp_path / "out"), "--incremental",
           "--shuffle-partitions", "2"]

    def run():
        p = subprocess.run(cmd, env=env, capture_output=True, text=True,
                           timeout=600)
        assert p.returncode == 0, p.stderr[-2000:]
        return json.loads(p.stdout.strip().splitlines()[-1])

    first = run()
    assert not first["skipped"]
    assert {s: m["events.total"] for s, m in first["snapshots"].items()} == \
        dict(zip(t.snapshot_ids(), [60, 40]))
    assert first["metrics"]["events.total"] == 100
    assert run()["skipped"]
