"""What a rerun skips and what it commits: a frame without input files
is never taken for a processed snapshot; a drain after a compaction or
a delete commits no row twice and loses none; an empty run's routed
table reads like any other run's."""

import functools
import glob
import os

import pytest

from beats_spark import fixtures
from beats_spark.catalog import Catalog
from beats_spark.pipeline import run_pipeline, run_pipeline_incremental
from test_pipeline_commit import _jobs


@pytest.fixture(scope="module")
def lookups(spark):
    return fixtures.host_meta(spark), fixtures.lang_meta(spark)


def _routed_rows(spark, out):
    """Rows of every run under ``out``, each run's table read alone."""
    return sum(spark.read.parquet(p).count()
               for p in glob.glob(os.path.join(out, "runs", "*", "routed")))


def test_frames_without_input_files_are_never_skipped(spark, lookups,
                                                      tmp_path):
    hm, lm = lookups
    out = str(tmp_path / "out")
    first = run_pipeline(spark, fixtures.pages(spark, 20), hm, lm, out)
    second = run_pipeline(spark, fixtures.pages(spark, 30), hm, lm, out)
    assert not first.skipped and not second.skipped
    assert first.snapshot_id == "adhoc-" + first.run_id
    assert second.snapshot_id == "adhoc-" + second.run_id
    assert second.metrics["events.total"] == 60
    assert _routed_rows(spark, out) == 40 + 60


def _drain(spark, table, lookups, out):
    return run_pipeline_incremental(spark, table, *lookups, out)


def test_drain_after_compaction_is_skipped(spark, lookups, tmp_path):
    t = Catalog(str(tmp_path / "cat")).table("pages")
    t.append(fixtures.pages(spark, 20))
    t.append(fixtures.pages(spark, 10))
    out = str(tmp_path / "out")
    assert _drain(spark, t, lookups, out).metrics["events.total"] == 60
    assert t.compact(spark) is not None
    assert _drain(spark, t, lookups, out).skipped
    assert _routed_rows(spark, out) == 60


def test_drain_after_delete_is_skipped(spark, lookups, tmp_path):
    t = Catalog(str(tmp_path / "cat")).table("pages")
    t.append(fixtures.pages(spark, 20))
    out = str(tmp_path / "out")
    assert _drain(spark, t, lookups, out).metrics["events.total"] == 40
    t.delete_where(spark, "lang = 'en'")
    assert _drain(spark, t, lookups, out).skipped
    assert _routed_rows(spark, out) == 40


def test_append_absorbed_by_compaction_is_drained_once(spark, lookups,
                                                       tmp_path):
    t = Catalog(str(tmp_path / "cat")).table("pages")
    t.append(fixtures.pages(spark, 20))
    out = str(tmp_path / "out")
    _drain(spark, t, lookups, out)
    late = t.append(fixtures.pages(spark, 10))
    t.compact(spark)
    r = _drain(spark, t, lookups, out)
    assert r.snapshot_id == late and r.metrics["events.total"] == 20
    assert _drain(spark, t, lookups, out).skipped
    assert _routed_rows(spark, out) == 40 + 20


def test_empty_run_reads_as_zero_rows(spark, lookups, tmp_path):
    hm, lm = lookups
    out = str(tmp_path / "out")
    full = run_pipeline(spark, fixtures.pages(spark, 10), hm, lm, out,
                        snapshot_id="full")
    res = {}
    assert _jobs(spark, lambda: res.update(r=run_pipeline(
        spark, fixtures.pages(spark, 0), hm, lm, out,
        snapshot_id="empty"))) == 1
    empty = res["r"]
    assert empty.metrics["events.total"] == 0

    def routed(run):
        return spark.read.parquet(
            os.path.join(out, "runs", run.run_id, "routed"))
    assert routed(empty).count() == 0
    assert routed(empty).schema == routed(full).schema
    both = functools.reduce(lambda a, b: a.unionByName(b), [
        spark.read.parquet(p)
        for p in glob.glob(os.path.join(out, "runs", "*", "routed"))])
    assert both.schema == routed(full).schema and both.count() == 20
