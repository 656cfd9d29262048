"""Frames built from driver-held rows are local relations
(``lookup.local_frame``): they plan as ``LocalTableScan``, have the
schema their DDL states and the rows ``createDataFrame`` over the same
list gives. So the fixture lookups are collected and folded with no
Spark job, and a pipeline run forks no Python worker."""

import json
import os
import subprocess
import sys
import textwrap
import uuid

import pytest
from pyspark.sql.types import StructType, _parse_datatype_string

from beats_spark import fixtures, lookup, psl, queries
from beats_spark.pipeline import build_routed

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


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


def _assert_local(spark, df, rows, ddl):
    schema = _parse_datatype_string(ddl)
    assert _plan(df).startswith("LocalTableScan")
    assert df.schema == schema
    # the JVM's schema, not only the one the Python frame caches
    assert StructType.fromJson(json.loads(df._jdf.schema().json())) == schema
    assert df.collect() == spark.createDataFrame(rows, ddl).collect()


def test_every_driver_frame_is_a_local_relation(spark, sf_dir, monkeypatch):
    built = []

    def recording(s, rows, ddl):
        rows = list(rows)
        df = lookup.local_frame(s, rows, ddl)
        built.append((rows, ddl, df))
        return df

    for module in (fixtures, psl, queries):
        monkeypatch.setattr(module, "local_frame", recording)
    fixtures.host_meta(spark)
    fixtures.lang_meta(spark)
    hosts = spark.range(1).selectExpr("'a.b.example.co.uk' AS h")
    psl.registered_domain_psl(hosts, "h")
    queries.QUERIES["cidr_enrich"](spark, sf_dir)
    assert [ddl.split()[0] for _, ddl, _ in built] == \
        ["host", "lang", "sfx", "cidr"]
    for rows, ddl, df in built:
        assert rows
        _assert_local(spark, df, rows, ddl)


def test_local_frame_keeps_nulls_narrow_types_and_empty_rows(spark):
    ddl = "k string, n int, big bigint, ok boolean, x double"
    rows = [("a", 1, 2**40, True, 0.5), (None, None, None, None, None)]
    _assert_local(spark, lookup.local_frame(spark, rows, ddl), rows, ddl)
    _assert_local(spark, lookup.local_frame(spark, [], ddl), [], ddl)


def test_cold_build_over_fixture_lookups_runs_no_job(spark):
    pages = fixtures.pages(spark, 50)
    hm, lm = fixtures.host_meta(spark), fixtures.lang_meta(spark)
    routed = []
    assert _jobs(spark, lambda: routed.append(build_routed(pages, hm, lm))) \
        == 0
    # both lookups were collected and folded: the plan has no join
    plan = _plan(routed[0])
    assert "Join" not in plan and "Exchange" not in plan


_NO_PYTHON_CHILD = textwrap.dedent("""
    import glob, json, sys, tempfile
    from pyspark.sql import SparkSession
    from beats_spark import fixtures
    from beats_spark.pipeline import run_pipeline

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "1")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._gateway.proc.pid

    def children(pid):
        out = []
        for f in glob.glob(f"/proc/{pid}/task/*/children"):
            try:
                out += [int(p) for p in open(f).read().split()]
            except OSError:
                pass
        return out

    with tempfile.TemporaryDirectory() as out_dir:
        run = run_pipeline(spark, fixtures.pages(spark, 200),
                           fixtures.host_meta(spark),
                           fixtures.lang_meta(spark), out_dir)
    tree, todo = [], children(jvm)
    while todo:
        pid = todo.pop()
        try:
            cmd = open(f"/proc/{pid}/cmdline", "rb").read()
        except OSError:
            continue          # a short-lived fork that already exited
        tree.append(cmd.replace(b"\\0", b" ").decode(errors="replace"))
        todo += children(pid)
    print(json.dumps({"jvm": open(f"/proc/{jvm}/cmdline").read()[:200],
                      "events": run.metrics["events.total"],
                      "children": tree}))
    spark.stop()
""")


@pytest.mark.skipif(not sys.platform.startswith("linux"),
                    reason="reads the JVM's children from /proc")
def test_pipeline_run_forks_no_python_worker():
    env = dict(os.environ, PYTHONPATH=REPO)
    done = subprocess.run([sys.executable, "-c", _NO_PYTHON_CHILD], env=env,
                          capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    seen = json.loads(done.stdout.strip().splitlines()[-1])
    assert "java" in seen["jvm"]
    assert seen["events"] == 400
    assert [c for c in seen["children"]
            if "python" in c.split(" ")[0] or "pyspark" in c] == []
