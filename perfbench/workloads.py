"""The benchmark workloads and their correctness gate.

Both workloads drive the shipped entry points of ``beats_spark.pipeline``
over a ``beats_spark.catalog.Table`` of generated pages:

- ``backfill``: one large snapshot through ``run_pipeline`` with lineage
  on: the per-page path (parse, enrich, route, sink write) at batch size.
- ``snapshots``: small append snapshots, most already watermarked,
  drained by ``run_pipeline_incremental(per_snapshot=True)``: the fixed
  cost every snapshot pays dominates.

Each timed call writes to a fresh output directory, so repeated calls
in one run see identical state and cannot drift by accumulating
watermarks, metrics or lineage rows.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Sequence, Tuple

import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession

from beats_spark import fixtures
from beats_spark.catalog import Table
from beats_spark.checkpoint import Watermarks
from beats_spark.pipeline import run_pipeline, run_pipeline_incremental

import gen
import host
from tracing import Tracer

SAMPLE_SIZE = 12             # urls whose messages are checked byte for byte


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    scale: float
    tracer: Tracer
    jvm_pid: int
    rss: host.RssSampler
    # the lookup tables, loaded by each input set-up
    host_meta: Optional[DataFrame] = None
    lang_meta: Optional[DataFrame] = None
    attempted: int = 0
    failed: int = 0
    errors: List[str] = field(default_factory=list)
    # per timed call, in run order: wall time and contention signals
    calls: List[Dict] = field(default_factory=list)
    # extra per-run facts printed on the details line
    details: Dict = field(default_factory=dict)
    _dirs: int = 0

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{name}-{self._dirs:03d}")

    def fail(self, what: str, problems: Sequence[str]) -> None:
        self.failed += 1
        self.errors.extend(f"{what}: {p}" for p in problems[:5])

    def scaled(self, n: int, floor: int = 1) -> int:
        return max(floor, int(n * self.scale))


def sample_ids(seed: int, ids: Sequence[int], k: int = SAMPLE_SIZE) -> List[int]:
    """A fixed sample: ``k`` evenly spaced page ids plus the first
    corrupt pages, so the dead-letter path is always checked."""
    step = max(1, len(ids) // k)
    picked = list(ids[::step][:k])
    corrupt = [i for i in ids[:5000] if gen.page(seed, i)["corrupt"]][:3]
    return sorted(set(picked + corrupt))


def readback(paths: Sequence[str], seed: int,
             sample: Sequence[int]) -> Tuple[Counter, list]:
    """Per-sink counts and the sample pages' events, read from the
    written sink output with pyarrow: no Spark job, so the gate adds
    no work to the session it checks."""
    urls = [gen.page(seed, i)["url"] for i in sample]
    counts: Counter = Counter()
    rows = []
    for path in paths:
        # routed output is partitioned by sink=<name>
        d = ds.dataset(path, format="parquet", partitioning="hive")
        counts.update(d.to_table(columns=["sink"]).column("sink").to_pylist())
        rows += [(r["url"], r["msg_idx"], r["message"], r["sink"])
                 for r in d.to_table(columns=["url", "msg_idx", "message",
                                              "sink"],
                                     filter=ds.field("url").isin(urls))
                 .to_pylist()]
    return counts, rows


def gate_output(ctx: Ctx, paths: Sequence[str], expected: Counter,
                sample: Sequence[int]) -> List[str]:
    counts, rows = readback(paths, ctx.seed, sample)
    return (gen.sink_mismatches(expected, counts)
            + gen.message_mismatches(ctx.seed, rows, sample))


def hygiene(ctx: Ctx) -> Dict:
    return {"loadavg_1m": host.loadavg_1m(),
            "other_spark_jvms": len(host.spark_jvms(exclude=ctx.jvm_pid))}


def _append_snapshot(ctx: Ctx, table: Table, path: str) -> str:
    with ctx.tracer.span("catalog.append"):
        return table.append(ctx.spark.read.parquet(path))


class Workload:
    name = ""
    # timed calls a run makes even past --seconds: one call's cpu varies
    # by ~10% (JIT, GC, other tenants), so the run sums three
    MIN_CALLS = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.table: Optional[Table] = None
        self.last_out: Optional[str] = None

    def setup(self) -> None:
        """Load the lookup tables, materialise the inputs into a fresh
        directory and commit them to a fresh catalog table; the timed
        calls use the last set-up."""
        ctx = self.ctx
        ctx.host_meta = fixtures.host_meta(ctx.spark)
        ctx.lang_meta = fixtures.lang_meta(ctx.spark)
        self._materialise(ctx.fresh_dir("setup"))

    def warm_up(self) -> None:
        """One untimed, unchecked operation: the first loads the Python
        workers and lets the JIT compile the hot paths."""
        with self.ctx.tracer.span("warmup"):
            self._operation(self._prepare_out(self.ctx.fresh_dir("warm")))

    def _materialise(self, base: str) -> None:
        raise NotImplementedError

    def _prepare_out(self, out: str) -> str:
        return out

    def _operation(self, out: str):
        """The pipeline call one timed operation makes, writing to ``out``."""
        raise NotImplementedError

    def timed_call(self) -> Dict:
        """One timed operation; failures are counted, never raised."""
        ctx = self.ctx
        before = hygiene(ctx)
        try:
            sample = self._call()
        except Exception:
            ctx.fail(f"{self.name} call", [traceback.format_exc()])
            sample = {"wall_s": None, "cpu_s": None, "jit_cpu_s": None,
                      "steal_share": None, "rss_mb": None, "pages": 0,
                      "latencies": []}
        ctx.calls.append({**before, **{k: sample[k] for k in (
            "wall_s", "cpu_s", "jit_cpu_s", "steal_share", "rss_mb")}})
        return sample

    def _call(self) -> Dict:
        raise NotImplementedError

    def _timed(self, fn: Callable):
        """``(fn(), start time, timing)``: wall seconds; cpu seconds of
        the JVM, its Python workers and this (the driver's) thread, and
        the part of them the JIT compiler threads took; the share of the
        host's busy cpu time stolen meanwhile; and the peak resident
        memory of the Spark processes during the call."""
        pid, rss = self.ctx.jvm_pid, self.ctx.rss

        def cpu_now():
            return (host.tree_cpu_s(pid) + time.thread_time(),
                    host.jit_cpu_s(pid))

        jiffies = host.cpu_jiffies()
        cpu0, jit0 = cpu_now()
        rss.take_window()
        t0 = time.time()
        res = fn()
        wall = time.time() - t0
        peak = rss.take_window()["total_mb"]
        cpu1, jit1 = cpu_now()
        stolen = host.steal_share(jiffies, host.cpu_jiffies())
        return res, t0, {"wall_s": wall, "cpu_s": cpu1 - cpu0,
                         "jit_cpu_s": jit1 - jit0, "steal_share": stolen,
                         "rss_mb": peak}

    def layer_input(self) -> Tuple[DataFrame, int, set]:
        """(pages frame a timed call processes, its page count, the
        snapshot ids already watermarked before the call)."""
        raise NotImplementedError


class Backfill(Workload):
    name = "backfill"
    PAGES = 16_000
    FILES = 8

    def _materialise(self, base: str) -> None:
        ctx = self.ctx
        self.pages = ctx.scaled(self.PAGES, floor=self.FILES)
        src = os.path.join(base, "inputs")
        self.expected: Counter = Counter()
        with ctx.tracer.span("generate", pages=self.pages):
            for f in range(self.FILES):
                ids = range(f * self.pages // self.FILES,
                            (f + 1) * self.pages // self.FILES)
                self.expected += gen.write_pages(
                    os.path.join(src, f"pages-{f:03d}.parquet"), ctx.seed, ids)
        self.table = Table(os.path.join(base, "catalog"), "pages")
        self.snapshot_id = _append_snapshot(ctx, self.table, src)
        self.sample = sample_ids(ctx.seed, range(self.pages))

    def _operation(self, out: str):
        ctx = self.ctx
        return run_pipeline(ctx.spark, self.table.read(ctx.spark),
                            ctx.host_meta, ctx.lang_meta, out)

    def _call(self) -> Dict:
        ctx = self.ctx
        out = ctx.fresh_dir("backfill-out")
        ctx.attempted += 1
        with ctx.tracer.span("pipeline.run_pipeline", pages=self.pages):
            res, _, timing = self._timed(lambda: self._operation(out))
        self.last_out = out
        with ctx.tracer.span("gate"):
            problems = gen.count_mismatches(self.expected, res.metrics)
            if not Watermarks(out).is_processed(res.snapshot_id):
                problems.append("snapshot not watermarked")
            problems += gate_output(
                ctx, [os.path.join(out, "runs", res.run_id, "routed")],
                self.expected, self.sample)
        if problems:
            ctx.fail("backfill run", problems)
        return {**timing, "pages": self.pages,
                "latencies": [timing["wall_s"]]}

    def layer_input(self):
        return self.table.read(self.ctx.spark), self.pages, set()


class Snapshots(Workload):
    name = "snapshots"
    HISTORY = 3         # snapshots watermarked before each timed call
    FRESH = 1           # snapshots each timed call drains
    PAGES = 500         # pages per snapshot

    def _materialise(self, base: str) -> None:
        ctx = self.ctx
        self.per_snap = ctx.scaled(self.PAGES)
        src = os.path.join(base, "inputs")
        self.table = Table(os.path.join(base, "catalog"), "pages")
        self.expected: Dict[str, Counter] = {}
        paths, counts = [], []
        with ctx.tracer.span("generate", pages=self.per_snap):
            for s in range(self.HISTORY + self.FRESH):
                paths.append(os.path.join(src, f"snap-{s:03d}.parquet"))
                counts.append(gen.write_pages(
                    paths[-1], ctx.seed,
                    range(s * self.per_snap, (s + 1) * self.per_snap)))
        sids = []
        for path, c in zip(paths, counts):
            sids.append(_append_snapshot(ctx, self.table, path))
            self.expected[sids[-1]] = c
        self.history, self.fresh = sids[:self.HISTORY], sids[self.HISTORY:]
        fresh_ids = range(self.HISTORY * self.per_snap,
                          (self.HISTORY + self.FRESH) * self.per_snap)
        self.sample = sample_ids(ctx.seed, fresh_ids)
        self.fresh_expected = sum((self.expected[s] for s in self.fresh),
                                  Counter())

    def _prepare_out(self, out: str) -> str:
        """Watermarks in ``out`` that already cover the history
        snapshots, as a previous run would have left them."""
        wm = Watermarks(out)
        for k, sid in enumerate(self.history):
            wm.record(sid, f"history-{k:03d}",
                      self.expected[sid]["events.total"])
        return out

    def _operation(self, out: str):
        ctx = self.ctx
        return run_pipeline_incremental(
            ctx.spark, self.table, ctx.host_meta, ctx.lang_meta, out,
            per_snapshot=True)

    def _call(self) -> Dict:
        ctx = self.ctx
        out = self._prepare_out(ctx.fresh_dir("snapshots-out"))
        ctx.attempted += self.FRESH
        with ctx.tracer.span("pipeline.run_pipeline_incremental",
                             snapshots=self.FRESH):
            res, t0, timing = self._timed(lambda: self._operation(out))
        self.last_out = out
        runs = res.sub_runs or []
        # per-snapshot latency: the gap between successive watermark
        # commits, the first measured from the call's start
        done = sorted(_completed_at(out, r.run_id) for r in runs)
        latencies = [b - a for a, b in zip([t0] + done, done)]
        with ctx.tracer.span("gate"):
            problems = []
            if [r.snapshot_id for r in runs] != self.fresh:
                problems.append(f"drained {[r.snapshot_id for r in runs]}, "
                                f"want {self.fresh}")
            for r in runs:
                problems += [f"snapshot {r.snapshot_id}: {p}" for p in
                             gen.count_mismatches(self.expected.get(
                                 r.snapshot_id, Counter()), r.metrics)]
            problems += gate_output(
                ctx, [os.path.join(out, "runs", r.run_id, "routed")
                      for r in runs], self.fresh_expected, self.sample)
        if problems:
            ctx.fail("snapshots call", problems)
        return {**timing, "pages": self.per_snap * len(runs),
                "latencies": latencies}

    def layer_input(self):
        processed = set(self.history)
        pages, _ = self.table.read_incremental(self.ctx.spark, processed)
        return pages, self.per_snap * self.FRESH, processed


def _completed_at(out: str, run_id: str) -> float:
    with open(os.path.join(out, "_watermarks", f"{run_id}.json")) as f:
        return json.load(f)["completed_at"]


WORKLOADS = {w.name: w for w in (Backfill, Snapshots)}
