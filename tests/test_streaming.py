"""Structured Streaming pipeline: drain-the-backlog run matches the
batch pipeline, restart from checkpoint reprocesses nothing, stateful
rate limit bounds per-key-per-second output."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from beats_spark.fixtures import pages, host_meta, lang_meta
from beats_spark.pipeline import SINKS, build_routed
from beats_spark.streaming import (
    run_stream_pipeline, stream_routed, windowed_counters,
    stateful_rate_limit,
)


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages"))
    pages(spark, 600, partitions=3).write.mode("overwrite").parquet(d)
    return d


def test_stream_matches_batch_and_resumes(spark, pages_dir, tmp_path):
    out = str(tmp_path / "out")
    hm, lm = host_meta(spark), lang_meta(spark)

    run_stream_pipeline(spark, pages_dir, hm, lm, out)
    routed = spark.read.parquet(os.path.join(out, "routed", "batch=*"))
    got = {r["sink"]: r["count"] for r in
           routed.groupBy("sink").count().collect()}

    expect = {r["sink"]: r["count"] for r in
              build_routed(spark.read.parquet(pages_dir), hm, lm)
              .groupBy("sink").count().collect()}
    assert got == expect

    counters = {r["name"]: r["total"] for r in
                spark.read.parquet(os.path.join(out, "metrics"))
                .groupBy("name").agg(F.sum("value").alias("total")).collect()}
    for s in SINKS:
        assert counters[f"output.{s}.events.acked"] == expect.get(s, 0)
    assert counters["events.total"] == routed.count()

    # resume: same checkpoint, no new files → no new batches written
    before = set(glob.glob(os.path.join(out, "routed", "batch=*")))
    run_stream_pipeline(spark, pages_dir, hm, lm, out)
    after = set(glob.glob(os.path.join(out, "routed", "batch=*")))
    assert before == after


def test_stream_commit_is_one_job_and_replays_once(spark, pages_dir,
                                                   tmp_path):
    """A micro-batch commits like a batch run: the routed write is its
    only Spark job, and a replayed batch id leaves one copy of its
    counters and lineage."""
    out = str(tmp_path / "out")
    hm, lm = host_meta(spark), lang_meta(spark)
    metrics_file = os.path.join(out, "metrics", "part-batch-0.parquet")

    def drain_jobs() -> int:
        q = run_stream_pipeline(spark, pages_dir, hm, lm, out)
        # the stream thread runs its jobs under the query's runId group
        return len(spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(str(q.runId)))

    assert drain_jobs() == 1
    first = pq.read_table(metrics_file).to_pylist()

    # drop batch 0's commit marker: the restarted query replays batch 0
    commits = os.path.join(out, "_checkpoint", "commits")
    os.remove(os.path.join(commits, "0"))
    os.remove(os.path.join(commits, ".0.crc"))
    assert drain_jobs() == 1
    assert os.path.exists(os.path.join(commits, "0"))

    for d in ("metrics", "lineage"):
        assert os.listdir(os.path.join(out, d)) == ["part-batch-0.parquet"]
    assert pq.read_table(metrics_file).to_pylist() == first
    counters = {r["name"]: r["value"] for r in first}

    routed = {r["sink"]: r["count"] for r in
              spark.read.parquet(os.path.join(out, "routed", "batch=0"))
              .groupBy("sink").count().collect()}
    lineage = {r["sink"]: r["n"] for r in
               spark.read.parquet(os.path.join(out, "lineage"))
               .groupBy("sink").agg(F.sum("count").alias("n")).collect()}
    assert lineage == routed
    for s in SINKS:
        assert counters[f"output.{s}.events.acked"] == routed.get(s, 0)
    assert counters["events.total"] == sum(routed.values())


def test_windowed_counters_plan_is_streaming(spark, pages_dir):
    hm, lm = host_meta(spark), lang_meta(spark)
    routed = stream_routed(spark, pages_dir, hm, lm)
    agg = windowed_counters(routed)
    assert agg.isStreaming
    assert [f.name for f in agg.schema] == ["win_start", "sink", "n"]


def test_stateful_rate_limit(spark, tmp_path):
    src_dir = str(tmp_path / "ev")
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "ratelimited")
    # 3 users × 20 events inside one second + 5 in the next second
    rows = []
    for u in range(3):
        for i in range(20):
            rows.append((u, 1_700_000_000_000_000 + i))       # second 0
        for i in range(5):
            rows.append((u, 1_700_000_001_000_000 + i))       # second 1
    df = spark.createDataFrame(rows, "user_id bigint, us bigint") \
              .select("user_id", F.timestamp_micros(F.col("us")).alias("ts"))
    df.write.mode("overwrite").parquet(src_dir)

    stream = (spark.readStream.schema("user_id bigint, ts timestamp")
              .parquet(src_dir))
    limited = stateful_rate_limit(stream, "user_id", "ts", limit_per_key=7)
    q = (limited.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = spark.read.parquet(out_dir)
    per_key_sec = (got.groupBy("user_id",
                               F.date_trunc("second", "ts").alias("s"))
                      .count().collect())
    assert len(per_key_sec) == 6
    for r in per_key_sec:
        assert r["count"] <= 7
    # second 0 saturates the limit, second 1 fits entirely
    counts = sorted(r["count"] for r in per_key_sec)
    assert counts == [5, 5, 5, 7, 7, 7]


def test_stateful_rate_limit_is_a_real_bucket(spark, tmp_path):
    # burst straddling a second boundary: 7 events at t=0.9s then 7 at
    # t=1.1s with 7/s. A per-second window cap would wave all 14
    # through; the continuous-refill bucket admits the first 7 (depth)
    # and then exactly ONE more (0.2s × 7/s = 1.4 tokens accrued).
    src_dir = str(tmp_path / "ev")
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    base = 1_700_000_000_000_000
    rows = ([(1, base + 900_000 + i) for i in range(7)]
            + [(1, base + 1_100_000 + i) for i in range(7)])
    df = spark.createDataFrame(rows, "user_id bigint, us bigint") \
              .select("user_id", F.timestamp_micros(F.col("us")).alias("ts"))
    df.write.mode("overwrite").parquet(src_dir)

    stream = (spark.readStream.schema("user_id bigint, ts timestamp")
              .parquet(src_dir))
    limited = stateful_rate_limit(stream, "user_id", "ts", limit_per_key=7)
    q = (limited.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.read.parquet(out_dir).count() == 8


def test_stateful_multiline_joins_across_batches(spark, tmp_path):
    """A dangling continuation run at the end of batch 1 joins with
    batch 2's lines THROUGH A QUERY RESTART (state restored from the
    checkpoint) — multiline/pattern.go semantics with persistent
    state. Completed events flush as they close."""
    from beats_spark.streaming.pipeline import stateful_multiline
    src_dir = str(tmp_path / "lines")
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "joined")
    os.makedirs(src_dir)

    def run_batch(rows, fname):
        df = spark.createDataFrame(
            rows, "path string, line_no long, message string")
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src_dir, fname))
        stream = (spark.readStream
                  .schema("path string, line_no long, message string")
                  .parquet(os.path.join(src_dir, "*")))
        joined = stateful_multiline(stream, timeout_ms=None)
        q = (joined.writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    # batch 1: one complete event + an in-progress one ending in a
    # continuation line
    run_batch([("a", 1, "ERROR boom"),
               ("a", 2, " at frame0"),
               ("a", 3, "WARN dangling"),
               ("a", 4, " still going")], "b1")
    got1 = {r["line_no"]: (r["message"], r["n_lines"])
            for r in spark.read.parquet(out_dir).collect()}
    # only the CLOSED event is out; the dangling one is in state
    assert got1 == {1: ("ERROR boom\n at frame0", 2)}

    # batch 2 (fresh query from the same checkpoint): continuation
    # first, then a new event start that closes the buffered event
    run_batch([("a", 5, " tail of dangling"),
               ("a", 6, "INFO done")], "b2")
    got2 = {r["line_no"]: (r["message"], r["n_lines"])
            for r in spark.read.parquet(out_dir).collect()}
    assert got2[3] == ("WARN dangling\n still going\n tail of dangling", 3)
    assert set(got2) == {1, 3}  # 'INFO done' still buffered


def test_stateful_multiline_flush_pattern_and_max_lines(spark, tmp_path):
    from beats_spark.streaming.pipeline import stateful_multiline
    src_dir = str(tmp_path / "l2")
    ck = str(tmp_path / "ck2")
    out_dir = str(tmp_path / "j2")
    rows = ([("a", 1, "BEGIN tx")]
            + [("a", i, f" step {i}") for i in range(2, 6)]
            + [("a", 6, "COMMIT")]          # flush_pattern → emit now
            + [("a", 7, "EV x")]
            + [("a", i, f" c{i}") for i in range(8, 12)])
    spark.createDataFrame(
        rows, "path string, line_no long, message string") \
        .coalesce(1).write.parquet(os.path.join(src_dir, "b"))
    stream = (spark.readStream
              .schema("path string, line_no long, message string")
              .parquet(os.path.join(src_dir, "*")))
    joined = stateful_multiline(stream, flush_pattern=r"^COMMIT",
                                max_lines=3, timeout_ms=None)
    q = (joined.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["line_no"]: (r["message"], r["n_lines"])
           for r in spark.read.parquet(out_dir).collect()}
    # max_lines=3 truncates, never splits (message_buffer.go addLine
    # freezes content/numLines at the cap; lines beyond it are
    # consumed and dropped) — steps 4-5 vanish, and the COMMIT line,
    # though it flushes the event (flush check precedes the
    # continuation predicate, pattern.go:209-220), is itself beyond
    # the cap so it is not appended either
    assert got[1] == ("BEGIN tx\n step 2\n step 3", 3)
    # the EV event consumed c8-c11 (truncated at 3) and stays
    # buffered (no terminator, no timeout in this test)
    assert set(got) == {1}


def test_stateful_multiline_timeout_flush(spark, tmp_path):
    """The reference's 5s multiline timeout (pattern.go:57,143): when a
    file goes quiet, the dangling buffered event flushes on the
    processing-time timeout (fired by Spark's no-data micro-batches)."""
    import time
    from beats_spark.streaming.pipeline import stateful_multiline
    src_dir = str(tmp_path / "l3")
    ck = str(tmp_path / "ck3")
    out_dir = str(tmp_path / "j3")
    spark.createDataFrame(
        [("a", 1, "ERROR boom"), ("a", 2, " at frame0")],
        "path string, line_no long, message string") \
        .coalesce(1).write.parquet(os.path.join(src_dir, "b"))
    stream = (spark.readStream
              .schema("path string, line_no long, message string")
              .parquet(os.path.join(src_dir, "*")))
    joined = stateful_multiline(stream, timeout_ms=1000)
    q = (joined.writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", ck)
         .trigger(processingTime="500 milliseconds").start())
    try:
        deadline = time.time() + 45
        got = {}
        while time.time() < deadline and not got:
            time.sleep(1.0)
            try:
                got = {r["line_no"]: (r["message"], r["n_lines"])
                       for r in spark.read.parquet(out_dir).collect()}
            except Exception:
                got = {}
    finally:
        q.stop()
    assert got == {1: ("ERROR boom\n at frame0", 2)}


def test_stateful_container_partial_across_batches(spark, tmp_path):
    """A CRI partial run whose final line arrives in the NEXT
    micro-batch (separate query run, same checkpoint) still joins —
    docker_json.go partial semantics with persistent state."""
    from beats_spark.functions.parsers import parse_container
    from beats_spark.streaming.pipeline import stateful_container_partial
    src_dir = str(tmp_path / "cl")
    ck = str(tmp_path / "cck")
    out_dir = str(tmp_path / "cj")

    def drain(rows, fname):
        spark.createDataFrame(
            rows, "path string, line_no long, message string") \
            .coalesce(1).write.parquet(os.path.join(src_dir, fname))
        stream = (spark.readStream
                  .schema("path string, line_no long, message string")
                  .parquet(os.path.join(src_dir, "*")))
        parsed = parse_container(stream, combine_partials=False,
                                 keep_partial_flag=True)
        q = (stateful_container_partial(parsed, timeout_ms=None)
             .writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    drain([("a", 1, "2024-01-02T03:04:05 stdout F whole"),
           ("a", 2, "2024-01-02T03:04:06 stdout P par")], "b1")
    got1 = {r["line_no"]: (r["message"], r["container_stream"],
                           str(r["container_time"]), r["n_lines"])
            for r in spark.read.parquet(out_dir).collect()}
    assert got1 == {1: ("whole", "stdout", "2024-01-02 03:04:05", 1)}

    drain([("a", 3, "2024-01-02T03:04:07 stdout P tial "),
           ("a", 4, "2024-01-02T03:04:08 stderr F line")], "b2")
    got2 = {r["line_no"]: (r["message"], r["container_stream"],
                           str(r["container_time"]), r["n_lines"])
            for r in spark.read.parquet(out_dir).collect()}
    # joined across the batch boundary; first part's stream/ts kept
    assert got2[2] == ("partial line", "stdout", "2024-01-02 03:04:06", 3)
    assert set(got2) == {1, 2}


def test_container_partial_batch_streaming_equivalence(spark, tmp_path):
    """The batch window join and the streaming stateful join produce
    the SAME events for the same lines (runs all terminated, so no
    timeout flush is involved)."""
    import random
    from beats_spark.functions.parsers import parse_container
    from beats_spark.streaming.pipeline import stateful_container_partial

    rnd = random.Random(7)
    rows = []
    for p in range(4):
        no = 0
        for _ in range(rnd.randint(3, 8)):      # runs per path
            for _ in range(rnd.randint(0, 3)):  # partial parts
                rows.append((f"p{p}", no,
                             f"2024-01-02T03:04:{no % 60:02d} stdout P x{no}-"))
                no += 1
            rows.append((f"p{p}", no,
                         f"2024-01-02T03:04:{no % 60:02d} stdout F end{no}"))
            no += 1
    df = spark.createDataFrame(
        rows, "path string, line_no long, message string")

    batch = {(r["path"], r["line_no"]):
             (r["message"], r["container_stream"], str(r["container_time"]))
             for r in parse_container(df).collect()}

    src = os.path.join(str(tmp_path), "src")
    df.coalesce(1).write.parquet(os.path.join(src, "b"))
    stream = (spark.readStream
              .schema("path string, line_no long, message string")
              .parquet(os.path.join(src, "*")))
    parsed = parse_container(stream, combine_partials=False,
                             keep_partial_flag=True)
    out_dir = os.path.join(str(tmp_path), "out")
    q = (stateful_container_partial(parsed, timeout_ms=None)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = {(r["path"], r["line_no"]):
                (r["message"], r["container_stream"],
                 str(r["container_time"]))
                for r in spark.read.parquet(out_dir).collect()}
    assert streamed == batch


def test_multiline_batch_streaming_equivalence(spark, tmp_path):
    """stateful_multiline produces the same events as the batch
    segment_lines joiner for identical lines — including flush lines
    that are not continuations and max_lines truncation. (The final
    event stays buffered in streaming, so the batch tail is excluded.)"""
    import random
    from beats_spark.functions.multiline import segment_lines
    from beats_spark.streaming.pipeline import stateful_multiline

    rnd = random.Random(11)
    lines = []
    for _ in range(80):
        kind = rnd.random()
        if kind < 0.45:
            lines.append(f"start {rnd.randint(0, 9)}")
        elif kind < 0.85:
            lines.append(f" cont {rnd.randint(0, 9)}")
        else:
            lines.append("FLUSH")
    lines.append("final sentinel")

    batch = segment_lines(lines, pattern=r"^\s", match="after",
                          flush_pattern=r"^FLUSH", max_lines=3)

    src = os.path.join(str(tmp_path), "src")
    spark.createDataFrame(
        [("f", i + 1, ln) for i, ln in enumerate(lines)],
        "path string, line_no long, message string") \
        .coalesce(1).write.parquet(os.path.join(src, "b"))
    stream = (spark.readStream
              .schema("path string, line_no long, message string")
              .parquet(os.path.join(src, "*")))
    q = (stateful_multiline(stream, pattern=r"^\s", match="after",
                            flush_pattern=r"^FLUSH", max_lines=3,
                            timeout_ms=None)
         .writeStream.format("parquet")
         .option("path", os.path.join(str(tmp_path), "out"))
         .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = [r["message"] for r in
                spark.read.parquet(os.path.join(str(tmp_path), "out"))
                     .orderBy("line_no").collect()]
    # streaming holds the last (unterminated) event in state
    assert streamed == batch[:-1]


def test_multiline_before_mode_batch_streaming_equivalence(spark, tmp_path):
    # before-mode: the PREVIOUS line's match decides; its result is
    # carried in state so it survives the batch boundary too
    import random
    from beats_spark.functions.multiline import segment_lines
    from beats_spark.streaming.pipeline import stateful_multiline

    rnd = random.Random(13)
    lines = [("part \\" if rnd.random() < 0.5 else
              f"end {rnd.randint(0, 9)}") for _ in range(60)]
    lines.append("final")
    batch = segment_lines(lines, pattern=r"\\$", match="before")

    src = os.path.join(str(tmp_path), "src")
    spark.createDataFrame(
        [("f", i + 1, ln) for i, ln in enumerate(lines)],
        "path string, line_no long, message string") \
        .coalesce(1).write.parquet(os.path.join(src, "b"))
    stream = (spark.readStream
              .schema("path string, line_no long, message string")
              .parquet(os.path.join(src, "*")))
    q = (stateful_multiline(stream, pattern=r"\\$", match="before",
                            timeout_ms=None)
         .writeStream.format("parquet")
         .option("path", os.path.join(str(tmp_path), "out"))
         .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = [r["message"] for r in
                spark.read.parquet(os.path.join(str(tmp_path), "out"))
                     .orderBy("line_no").collect()]
    assert streamed == batch[:-1]


def test_stream_dedup_against(spark, tmp_path):
    """Arriving pages dedup against the static corpus every
    micro-batch, and against the stream itself within the watermark."""
    from beats_analytics.streaming import stream_dedup_against

    src, ck, out = (str(tmp_path / d) for d in ("src", "ck", "out"))
    seen = spark.createDataFrame([("already ingested page",)], ["text"])
    b1 = spark.createDataFrame(
        [("already ingested page", "2024-01-01 00:00:00"),   # vs corpus
         ("fresh page one", "2024-01-01 00:00:00")], ["text", "ts"]) \
        .select("text", F.col("ts").cast("timestamp").alias("warc_ts"))
    b2 = spark.createDataFrame(
        [("fresh page one", "2024-01-01 00:01:00"),          # in-stream dup
         ("fresh page two", "2024-01-01 00:01:00")], ["text", "ts"]) \
        .select("text", F.col("ts").cast("timestamp").alias("warc_ts"))
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("text string, warc_ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    deduped = stream_dedup_against(stream, seen, within="10 minutes")
    q = (deduped.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = sorted(r.text for r in spark.read.parquet(out).collect())
    assert got == ["fresh page one", "fresh page two"]

def test_stateful_rate_limit_idle_timeout_same_admissions(spark, tmp_path):
    """With ``idle_timeout_ms`` set, admissions are identical to the
    exact (no-eviction) run for active keys — eviction only changes
    what happens to keys idle past the refill horizon, where a full
    bucket is indistinguishable from a refilled one."""
    src_dir = str(tmp_path / "ev")
    rows = []
    for u in range(3):
        rows.extend((u, 1_700_000_000_000_000 + i) for i in range(20))
        rows.extend((u, 1_700_000_001_000_000 + i) for i in range(5))
    df = spark.createDataFrame(rows, "user_id bigint, us bigint") \
              .select("user_id", F.timestamp_micros(F.col("us")).alias("ts"))
    df.write.mode("overwrite").parquet(src_dir)

    def run(tag, **kw):
        stream = (spark.readStream.schema("user_id bigint, ts timestamp")
                  .parquet(src_dir))
        out = str(tmp_path / f"out_{tag}")
        q = (stateful_rate_limit(stream, "user_id", "ts",
                                 limit_per_key=7, **kw)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
             .trigger(availableNow=True).start())
        # a TTL query holds live timers, so availableNow never
        # self-terminates (see the operator docstring) — poll until
        # the one data micro-batch has been processed, then stop.
        # Progress is posted only after a batch commits, and the
        # parquet file sink reports numOutputRows -1, so the batch's
        # input count is the signal.
        import time
        deadline = time.time() + 120
        while time.time() < deadline:
            if q.awaitTermination(2):
                break
            if any(p["numInputRows"] > 0 for p in q.recentProgress):
                break
        q.stop()
        q.awaitTermination()
        return sorted((r["user_id"], str(r["ts"])) for r in
                      spark.read.parquet(out).collect())

    assert run("ttl", idle_timeout_ms=60_000) == run("exact")


def test_stateful_multiline_null_line_no_dropped(spark, tmp_path):
    """A NULL order value (corrupt source row) is dropped instead of
    killing the query with int(NaN)."""
    from beats_spark.streaming.pipeline import stateful_multiline
    src_dir = str(tmp_path / "ml")
    spark.createDataFrame(
        [("a", 1, "first"), ("a", None, "corrupt"), ("a", 2, "  cont"),
         ("a", 3, "second")],  # flushes event 1 (event 2 stays buffered)
        "path string, line_no long, message string") \
        .coalesce(1).write.parquet(src_dir)
    stream = (spark.readStream
              .schema("path string, line_no long, message string")
              .parquet(src_dir))
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (stateful_multiline(stream, pattern=r"^\s", match="after",
                            negate=False, timeout_ms=None)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["line_no"]: r["message"]
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {1: "first\n  cont"}


def test_stateful_container_partial_null_line_no_dropped(spark, tmp_path):
    from beats_spark.functions.parsers import parse_container
    from beats_spark.streaming.pipeline import stateful_container_partial
    src_dir = str(tmp_path / "cl")
    spark.createDataFrame(
        [("a", 1, "2024-01-02T03:04:05 stdout F whole"),
         ("a", None, "2024-01-02T03:04:06 stdout F corrupt")],
        "path string, line_no long, message string") \
        .coalesce(1).write.parquet(src_dir)
    stream = (spark.readStream
              .schema("path string, line_no long, message string")
              .parquet(src_dir))
    parsed = parse_container(stream, combine_partials=False,
                             keep_partial_flag=True)
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (stateful_container_partial(parsed, timeout_ms=None)
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = [r["message"] for r in spark.read.parquet(out_dir).collect()]
    assert got == ["whole"]


def test_stream_sessions_merge_across_batches(spark, tmp_path):
    """Sessions merge across micro-batches (file 2 extends file 1's
    open session), finalize when the watermark passes, and line up
    with the batch operator's boundaries on the same data."""
    from beats_analytics import session_rollup
    from beats_analytics.streaming import stream_sessions
    src_dir = str(tmp_path / "ev")
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "sessions")
    os.makedirs(src_dir)
    t0 = 1_700_000_000_000_000  # epoch micros

    def mk(rows, fname):
        df = spark.createDataFrame(rows, "user_id bigint, us bigint") \
            .select("user_id",
                    F.timestamp_micros(F.col("us")).alias("ts"))
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src_dir, fname))
        return df

    def run():
        stream = (spark.readStream
                  .schema("user_id bigint, ts timestamp")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(src_dir + "/*"))
        sess = stream_sessions(stream, gap_seconds=1800,
                               watermark="30 minutes")
        q = (sess.writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ck)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()

    m = 60 * 1_000_000
    b1 = [(1, t0), (1, t0 + 10 * m), (2, t0)]
    # user 1's 20-min event merges ACROSS the batch boundary (10-min
    # gap < 30-min timeout); the 2-h event opens a new session; user
    # 99 is the watermark mover (far future): the watermark only
    # advances AFTER the batch carrying it, so emission of the
    # finalized sessions needs one more processed batch — b3, in a
    # SECOND query run (exercising checkpoint restore as well)
    b2 = [(1, t0 + 20 * m), (1, t0 + 120 * m), (99, t0 + 600 * m)]
    b3 = [(99, t0 + 1200 * m)]
    mk(b1, "b1")
    mk(b2, "b2")
    run()
    mk(b3, "b3")
    run()

    got = {(r.user_id, r.session_start, r.session_last): r.n_events
           for r in spark.read.parquet(out_dir).collect()
           if r.user_id != 99}
    batch_df = spark.createDataFrame(
        b1 + b2, "user_id bigint, us bigint") \
        .select("user_id", F.timestamp_micros(F.col("us")).alias("ts"))
    want = {(r.user_id, r.session_start, r.session_end): r.n_events
            for r in session_rollup(batch_df, gap_seconds=1800)
            .collect() if r.user_id != 99}
    assert got == want
    assert sum(n for (u, _, _), n in got.items() if u == 1) == 4


def test_stream_sessions_gap_boundary_matches_batch(spark, tmp_path):
    """An event arriving EXACTLY gap_seconds after the previous one:
    assert the streaming session_window and the batch operator agree
    on whether it merges (batch rule: strict >, so it merges)."""
    from beats_analytics import session_rollup
    from beats_analytics.streaming import stream_sessions
    src_dir = str(tmp_path / "ev")
    os.makedirs(src_dir)
    t0 = 1_700_000_000_000_000
    rows = [(1, t0), (1, t0 + 1800 * 1_000_000),
            (99, t0 + 86400 * 1_000_000)]
    df = spark.createDataFrame(rows, "user_id bigint, us bigint") \
        .select("user_id", F.timestamp_micros(F.col("us")).alias("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(src_dir, "b1"))

    def run():
        stream = (spark.readStream
                  .schema("user_id bigint, ts timestamp")
                  .parquet(src_dir + "/*"))
        sess = stream_sessions(stream, gap_seconds=1800,
                               watermark="1 minute")
        q = (sess.writeStream.format("parquet")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    # second run with a later sentinel: the stored watermark finalizes
    # and emits the sessions closed by run 1's data
    spark.createDataFrame(
        [(99, t0 + 2 * 86400 * 1_000_000)], "user_id bigint, us bigint") \
        .select("user_id", F.timestamp_micros(F.col("us")).alias("ts")) \
        .coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src_dir, "b2"))
    run()
    stream_n = [r.n_events for r in
                spark.read.parquet(str(tmp_path / "out")).collect()
                if r.user_id == 1]
    batch_n = [r.n_events for r in
               session_rollup(df, gap_seconds=1800).collect()
               if r.user_id == 1]
    assert sorted(stream_n) == sorted(batch_n)


def test_stream_count_anomalies_matches_batch(spark, tmp_path):
    """The streaming ring-buffer z-test produces bit-identical flags
    to the batch decimal(38,0) operator on the same bucketed counts,
    with state carried across micro-batches AND a query restart; a
    replayed (out-of-order) bucket is marked n_prior=-1, flag NULL."""
    from beats_analytics import count_anomalies
    from beats_analytics.streaming import stream_count_anomalies
    src_dir = str(tmp_path / "counts")
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "flags")
    os.makedirs(src_dir)
    t0 = 1_700_000_000_000_000
    h = 3600 * 1_000_000
    vals = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100, 1000, 100]

    def mk(idx_vals, fname):
        spark.createDataFrame(
            [("x", t0 + i * h, v) for i, v in idx_vals],
            "g string, us bigint, c bigint") \
            .select("g", F.timestamp_micros(F.col("us")).alias("b"),
                    "c") \
            .coalesce(1).write.mode("overwrite").parquet(
                os.path.join(src_dir, fname))

    def run():
        stream = (spark.readStream.schema(
            "g string, b timestamp, c bigint")
            .option("maxFilesPerTrigger", 1).parquet(src_dir + "/*"))
        flagged = stream_count_anomalies(
            stream, "g", "b", "c", trailing=24, min_points=6, z=3)
        q = (flagged.writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    mk(list(enumerate(vals[:7])), "b1")
    run()                                    # batches 1
    mk(list(enumerate(vals))[7:], "b2")      # restart: state restored
    run()
    got = {r.b: (r.n_prior, r.is_anomaly)
           for r in spark.read.parquet(out_dir).collect()}
    assert len(got) == len(vals)

    batch = spark.createDataFrame(
        [("x", t0 + i * h, v) for i, v in enumerate(vals)],
        "g string, us bigint, c bigint") \
        .select("g", F.timestamp_micros(F.col("us")).alias("b"), "c")
    want = {r.b: (r.n_prior, r.is_anomaly)
            for r in count_anomalies(batch, "g", "b", "c",
                                     trailing=24, min_points=6,
                                     z=3).collect()}
    assert got == want
    assert any(f for _, f in got.values() if f)   # the spike flagged

    # replay an already-seen bucket in a third run: late-marked
    mk([(10, 1000)], "b3")
    run()
    got3 = {r.b: (r.n_prior, r.is_anomaly)
            for r in spark.read.parquet(out_dir).collect()
            if r.n_prior == -1}
    assert len(got3) == 1
    assert list(got3.values())[0] == (-1, None)


def test_stream_event_join_matches_batch(spark, tmp_path):
    """Cross-micro-batch stream-stream join: requests paired with the
    errors that followed them within 120s on the same host, equal to
    the batch join over the same rows even when the pair arrives in
    different micro-batches."""
    import datetime as dt
    from pyspark.sql import functions as F
    from beats_analytics.streaming import stream_event_join

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    lsrc, rsrc = str(tmp_path / "req"), str(tmp_path / "err")
    ck = str(tmp_path / "ck")
    req1 = spark.createDataFrame(
        [("h1", ts(0), "r1"), ("h2", ts(10), "r2")],
        "host string, req_ts timestamp, req string")
    req2 = spark.createDataFrame(
        [("h1", ts(500), "r3")],
        "host string, req_ts timestamp, req string")
    err1 = spark.createDataFrame(
        [("h1", ts(60), "e1")],       # pairs with r1 (same batch side)
        "host string, err_ts timestamp, err string")
    err2 = spark.createDataFrame(
        [("h1", ts(115), "e2"),       # pairs with r1 ACROSS batches
         ("h2", ts(200), "e3"),       # too late for r2 (>120s)
         ("h1", ts(510), "e4")],      # pairs with r3
        "host string, err_ts timestamp, err string")
    req1.coalesce(1).write.mode("append").parquet(lsrc)
    req2.coalesce(1).write.mode("append").parquet(lsrc)
    err1.coalesce(1).write.mode("append").parquet(rsrc)
    err2.coalesce(1).write.mode("append").parquet(rsrc)

    lstream = (spark.readStream
               .schema("host string, req_ts timestamp, req string")
               .option("maxFilesPerTrigger", 1).parquet(lsrc))
    rstream = (spark.readStream
               .schema("host string, err_ts timestamp, err string")
               .option("maxFilesPerTrigger", 1).parquet(rsrc))
    joined = stream_event_join(lstream, rstream, "host",
                               "req_ts", "err_ts",
                               within_seconds=120,
                               watermark="10 minutes")
    q = (joined.select("host", "req", "err")
         .writeStream.outputMode("append")
         .format("memory").queryName("sse_join")
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted(map(tuple, spark.sql(
        "SELECT host, req, err FROM sse_join").collect()))
    # batch reference over the same rows
    lb = spark.read.parquet(lsrc)
    rb = (spark.read.parquet(rsrc)
          .withColumnRenamed("host", "rhost"))
    want = sorted(map(tuple, lb.join(
        rb, (F.col("host") == F.col("rhost"))
        & (F.col("err_ts") >= F.col("req_ts"))
        & (F.col("err_ts") <= F.col("req_ts")
           + F.expr("INTERVAL 120 SECONDS")))
        .select("host", "req", "err").collect()))
    assert got == want == [("h1", "r1", "e1"), ("h1", "r1", "e2"),
                           ("h1", "r3", "e4")]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="distinct"):
        stream_event_join(lstream, rstream, "host", "ts", "ts")


def test_stream_ewma_matches_batch(spark, tmp_path):
    """The streaming EWMA carries (s, last_us) across micro-batches
    and a query restart and reproduces the batch kernel's smoothed
    values and spike flags bit-for-bit; a replayed (out-of-order) row
    is emitted with NULL ewma/spike and leaves the state untouched."""
    from beats_analytics.events import ewma_smooth
    from beats_analytics.streaming import stream_ewma
    src_dir = str(tmp_path / "ev")
    ck = str(tmp_path / "ck")
    out_dir = str(tmp_path / "sm")
    os.makedirs(src_dir)
    t0 = 1_700_000_000_000_000
    m = 60 * 1_000_000
    vals = [10, 20, 10, 100, 12, 11, 300, 10]

    def mk(idx_vals, fname):
        spark.createDataFrame(
            [("u", t0 + i * m, v) for i, v in idx_vals],
            "k string, us bigint, x bigint") \
            .select("k", F.timestamp_micros(F.col("us")).alias("ts"),
                    "x") \
            .coalesce(1).write.mode("overwrite").parquet(
                os.path.join(src_dir, fname))

    def run():
        stream = (spark.readStream.schema("k string, ts timestamp, x bigint")
                  .option("maxFilesPerTrigger", 1).parquet(src_dir + "/*"))
        sm = stream_ewma(stream, key_col="k", ts_col="ts", x_col="x")
        q = (sm.writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    mk(list(enumerate(vals[:4])), "b1")
    run()
    mk(list(enumerate(vals))[4:], "b2")      # restart: state restored
    run()
    got = {r.ts: (r.ewma_milli, r.spike)
           for r in spark.read.parquet(out_dir).collect()}
    assert len(got) == len(vals)

    batch = spark.createDataFrame(
        [("u", t0 + i * m, v) for i, v in enumerate(vals)],
        "k string, us bigint, x bigint") \
        .select("k", F.timestamp_micros(F.col("us")).alias("ts"), "x")
    want = {r.ts: (r.ewma_milli, r.spike)
            for r in ewma_smooth(batch, key_col="k", ts_col="ts",
                                 x_col="x", order_by=()).collect()}
    assert got == want
    assert any(sp for _, sp in got.values() if sp)   # spikes flagged

    # replay an already-seen row: NULL-marked, state untouched
    mk([(2, 999)], "b3")
    run()
    rows = spark.read.parquet(out_dir).collect()
    late = [r for r in rows if r.ewma_milli is None]
    assert len(late) == 1 and late[0].spike is None


def test_stream_percolate_matches_batch_and_join_form(spark, tmp_path):
    """Alerts over any micro-batch split equal batch percolation of
    the same rows, and the compiled form agrees with the join-form
    percolate on (doc, query) pairs."""
    from beats_analytics.streaming import stream_percolate
    from beats_analytics.terms import percolate, with_percolator
    from pyspark.sql.types import (ArrayType, StringType, StructField,
                                   StructType)

    stored = [("q_ab", None, ["alpha", "beta"]),
              ("q_en", "en", ["alpha"]),
              ("q_none", None, ["zzz"])]
    rows = [("u1", "alpha beta gamma", "en"),
            ("u2", "alpha beta", "fr"),
            ("u3", "beta only", "en"),
            ("u4", "alpha", "en"),
            ("u5", "", "en")]
    src, ck, out = (str(tmp_path / d) for d in ("src", "ck", "out"))
    df = spark.createDataFrame(rows, "url string, text string, "
                               "lang string")
    # two micro-batches
    df.filter(F.col("url") < "u3").coalesce(1) \
      .write.mode("append").parquet(src)
    df.filter(F.col("url") >= "u3").coalesce(1) \
      .write.mode("append").parquet(src)

    stream = (spark.readStream
              .schema("url string, text string, lang string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream_percolate(stream, stored).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r["url"], r["query_id"])
                 for r in spark.read.parquet(out).collect())

    # batch compiled form on the same rows
    batch = sorted(
        (r["url"], qid)
        for r in with_percolator(df, stored).collect()
        for qid in r["matched_queries"])
    assert got == batch == [("u1", "q_ab"), ("u1", "q_en"),
                            ("u2", "q_ab"), ("u4", "q_en")]

    # join-form percolate agrees on per-query match counts
    sch = StructType([StructField("query_id", StringType()),
                      StructField("lang", StringType()),
                      StructField("terms", ArrayType(StringType()))])
    jf = {r["query_id"]: r["n_docs"]
          for r in percolate(
              df.withColumnRenamed("url", "doc_id"),
              spark.createDataFrame(stored, sch),
              id_col="doc_id").collect()}
    from collections import Counter
    cnt = Counter(qid for _, qid in got)
    assert jf == {"q_ab": cnt["q_ab"], "q_en": cnt["q_en"],
                  "q_none": 0}


def test_stream_dns_alerts_matches_batch(spark, tmp_path):
    """DNS-tunnel alerts over any micro-batch split equal the batch
    dns_tunnel_flags filter on the same rows (stateless projection —
    trigger-timing-independent)."""
    from beats_analytics.streaming import stream_dns_alerts
    from beats_analytics.textstats import dns_tunnel_flags

    rows = [("e0", "www.example.com"),
            ("e1", "d41d8cd98f00b204e9800998ecf8427e.t.example.com"),
            ("e2", "a" * 40 + ".t.example.com"),        # long, zero ent
            ("e3", "9e107d9d372bb6826bd81d3542a419d6.exfil.net"),
            ("e4", "deadbeef.t.example.com"),           # short
            ("e5", None)]
    src, ck, out = (str(tmp_path / d) for d in ("src", "ck", "out"))
    df = spark.createDataFrame(rows, "id string, query_name string")
    # three micro-batches
    for lo, hi in (("e0", "e2"), ("e2", "e4"), ("e4", "e9")):
        df.filter((F.col("id") >= lo) & (F.col("id") < hi)) \
          .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream
              .schema("id string, query_name string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = (stream_dns_alerts(stream).writeStream
         .format("parquet").option("path", out)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r["id"], r["label_len"], r["ent_per_cp_micro"])
                 for r in spark.read.parquet(out).collect())
    batch = sorted(
        (r["id"], r["label_len"], r["ent_per_cp_micro"])
        for r in dns_tunnel_flags(df).filter("is_tunnel").collect())
    assert got == batch
    assert [i for i, _, _ in got] == ["e1", "e3"]


def test_stateful_heavy_hitters_candidates_complete(spark, tmp_path):
    """Cross-micro-batch + restart: the union of each shard's LATEST
    MG summary contains every global 1/k-heavy item (no false
    negatives), and an exact recount over the candidates equals the
    exact HAVING set — the batch op's contract, live."""
    from beats_analytics.streaming import stateful_heavy_hitters
    src_dir = str(tmp_path / "items")
    ck = str(tmp_path / "ck_hh")
    out_dir = str(tmp_path / "hh")
    os.makedirs(src_dir)

    def mk(ids, fname):
        rows = [("hot_" + str(i % 3),) if i % 2 == 0
                else ("v" + str(i),) for i in ids]
        spark.createDataFrame(rows, "item string").coalesce(1) \
            .write.mode("overwrite").parquet(
                os.path.join(src_dir, fname))

    def run():
        stream = (spark.readStream.schema("item string")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(src_dir + "/*"))
        hh = stateful_heavy_hitters(stream, "item", shards=4, k=6)
        q = (hh.writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    mk(range(0, 400), "b1")
    run()
    mk(range(400, 1000), "b2")     # restart restores MG state
    run()

    from pyspark.sql import Window
    out = spark.read.parquet(out_dir)
    latest = (out.withColumn(
        "__r", F.row_number().over(
            Window.partitionBy("shard").orderBy(F.desc("seq"))))
        .filter("__r = 1").select("shard", "seq").distinct())
    cands = {r["item"] for r in out.join(
        latest, ["shard", "seq"], "left_semi").collect()}

    all_items = [("hot_" + str(i % 3),) if i % 2 == 0
                 else ("v" + str(i),) for i in range(1000)]
    batch = spark.createDataFrame(all_items, "item string")
    n = batch.count()
    exact = {r["item"]: r["c"] for r in
             batch.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
             .collect() if r["c"] * 6 > n}
    assert set(exact) <= cands          # no false negatives
    # exact recount over candidates reproduces the exact answer
    recount = {r["item"]: r["c"] for r in
               batch.filter(F.col("item").isin(list(cands)))
               .groupBy("item").agg(F.count(F.lit(1)).alias("c"))
               .collect() if r["c"] * 6 > n}
    assert recount == exact and len(exact) == 2


def test_stateful_counter_rates_matches_batch(spark, tmp_path):
    """Streaming reset-rate emission matches the batch operator
    row-for-row on in-order input, with state carried across
    micro-batches AND a restart; a replayed sample is late-marked
    (dt_us = -1) and leaves state untouched."""
    from beats_analytics.events import counter_rates
    from beats_analytics.streaming import stateful_counter_rates
    src_dir = str(tmp_path / "ctr")
    ck = str(tmp_path / "ck_cr")
    out_dir = str(tmp_path / "rates")
    os.makedirs(src_dir)
    t0 = 1_700_000_000_000_000
    # (host, us offset s, counter) — includes a reset for h1
    rows_all = [("h1", 0, 100), ("h1", 10, 160), ("h1", 20, 40),
                ("h2", 0, 5), ("h1", 30, 75), ("h2", 40, 25),
                ("h1", 50, 95)]

    def mk(rows, fname):
        spark.createDataFrame(
            [(h, t0 + s * 1_000_000, c) for h, s, c in rows],
            "host string, us bigint, ctr bigint") \
            .select("host", F.timestamp_micros(F.col("us"))
                    .alias("ts"), "ctr") \
            .coalesce(1).write.mode("overwrite").parquet(
                os.path.join(src_dir, fname))

    def run():
        stream = (spark.readStream
                  .schema("host string, ts timestamp, ctr bigint")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(src_dir + "/*"))
        q = (stateful_counter_rates(stream, "host", "ts", "ctr")
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    mk(rows_all[:4], "b1")
    run()
    mk(rows_all[4:], "b2")      # restart restores (last_us, last_c)
    run()
    got = {(r.host, r.ts.isoformat()): (r.delta, r.dt_us,
                                        r.was_reset, r.rate_micro)
           for r in spark.read.parquet(out_dir).collect()}

    batch_in = spark.createDataFrame(
        [(h, t0 + s * 1_000_000, c) for h, s, c in rows_all],
        "host string, us bigint, ctr bigint") \
        .select("host", F.timestamp_micros(F.col("us")).alias("ts"),
                "ctr")
    want = {(r.host, r.ts.isoformat()): (r.delta, r.dt_us,
                                         r.was_reset, r.rate_micro)
            for r in counter_rates(batch_in, "host", "ts",
                                   "ctr").collect()}
    assert got == want and len(got) == 5
    assert any(w for _, _, w, _ in got.values())    # the reset seen

    # replay an old sample in a third run: late-marked, state intact
    mk([("h1", 10, 999)], "b3")
    run()
    rows3 = [r for r in spark.read.parquet(out_dir).collect()
             if r.ctr == 999]
    assert len(rows3) == 1 and rows3[0].dt_us == -1
    assert rows3[0].rate_micro is None


def test_stateful_ewma_matches_batch(spark, tmp_path):
    """Streaming EWMA+spike emission replays the batch integer
    recurrence bit-for-bit across micro-batches and a restart; a
    replayed sample is late-marked and leaves state untouched."""
    from beats_analytics.events import ewma_smooth
    from beats_analytics.streaming import stateful_ewma_smooth
    src_dir = str(tmp_path / "ewma_src")
    ck = str(tmp_path / "ck_ewma")
    out_dir = str(tmp_path / "ewma_out")
    os.makedirs(src_dir)
    t0 = 1_700_000_000_000_000
    rows_all = [("h1", 0, 10), ("h1", 10, 12), ("h1", 20, 100),
                ("h2", 0, 5), ("h1", 30, 9), ("h2", 40, 50),
                ("h1", 50, -4)]   # negative: floor-division parity

    def mk(rows, fname):
        spark.createDataFrame(
            [(h, t0 + s * 1_000_000, x) for h, s, x in rows],
            "host string, us bigint, x bigint") \
            .select("host", F.timestamp_micros(F.col("us"))
                    .alias("ts"), "x") \
            .coalesce(1).write.mode("overwrite").parquet(
                os.path.join(src_dir, fname))

    def run():
        stream = (spark.readStream
                  .schema("host string, ts timestamp, x bigint")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(src_dir + "/*"))
        q = (stateful_ewma_smooth(stream, "host", "ts", "x")
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    mk(rows_all[:4], "b1")
    run()
    mk(rows_all[4:], "b2")      # restart restores (last_us, s_prev)
    run()
    got = {(r.host, r.ts.isoformat()): (r.ewma_milli, r.spike)
           for r in spark.read.parquet(out_dir).collect()
           if not r.late}

    batch_in = spark.createDataFrame(
        [(h, t0 + s * 1_000_000, x, i)
         for i, (h, s, x) in enumerate(rows_all)],
        "host string, us bigint, x bigint, event_id bigint") \
        .select("host", F.timestamp_micros(F.col("us")).alias("ts"),
                "x", "event_id")
    want = {(r.host, r.ts.isoformat()): (r.ewma_milli, r.spike)
            for r in ewma_smooth(batch_in, "host", "ts", "x")
            .collect()}
    assert got == want and len(got) == len(rows_all)
    assert any(s for _, s in got.values())          # the spike seen

    # replay an old sample: late-marked, state untouched
    mk([("h1", 10, 999)], "b3")
    run()
    lates = [r for r in spark.read.parquet(out_dir).collect()
             if r.late]
    assert len(lates) == 1 and lates[0].ewma_milli is None


def test_stateful_sequence_gaps_matches_batch(spark, tmp_path):
    """Running per-key gap audit totals converge to the batch
    operator's row on per-key-ordered input; a below-last_seq record
    is late-counted without disturbing the audit."""
    from beats_analytics.events import sequence_gaps
    from beats_analytics.streaming import stateful_sequence_gaps
    src_dir = str(tmp_path / "seq_src")
    ck = str(tmp_path / "ck_seq")
    out_dir = str(tmp_path / "seq_out")
    os.makedirs(src_dir)
    rows_all = [("c1", 10), ("c1", 11), ("c1", 14),   # gap of 2
                ("c2", 5), ("c1", 14),                # dup
                ("c1", 15), ("c2", 9)]                # gap of 3

    def mk(rows, fname):
        spark.createDataFrame(rows, "channel string, seq bigint") \
            .coalesce(1).write.mode("overwrite").parquet(
                os.path.join(src_dir, fname))

    def run():
        stream = (spark.readStream
                  .schema("channel string, seq bigint")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(src_dir + "/*"))
        q = (stateful_sequence_gaps(stream, "channel", "seq")
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    mk(rows_all[:3], "b1")
    run()
    mk(rows_all[3:], "b2")      # restart restores the six counters
    run()
    pdf = spark.read.parquet(out_dir).toPandas()
    # latest totals per key = the row with max n
    latest = {r.channel: r for _, r in
              pdf.sort_values("n").groupby("channel").tail(1)
              .iterrows()}

    batch_in = spark.createDataFrame(rows_all,
                                     "channel string, seq bigint")
    want = {r.channel: r for r in
            sequence_gaps(batch_in, "channel", "seq").collect()}
    for ch in ("c1", "c2"):
        g, w = latest[ch], want[ch]
        assert (g.n, g.first_seq, g.last_seq, g.n_missing,
                g.n_dups, g.n_gaps) == \
               (w.n, w.first_seq, w.last_seq, w.n_missing,
                w.n_dups, w.n_gaps), ch
        assert g.n_late == 0
    assert latest["c1"].n_missing == 2 and latest["c1"].n_dups == 1
    assert latest["c2"].n_missing == 3

    # a below-last_seq record: late-counted, audit untouched
    mk([("c1", 12)], "b3")
    run()
    pdf3 = spark.read.parquet(out_dir).toPandas()
    last_c1 = pdf3[pdf3.channel == "c1"].sort_values(
        ["n", "n_late"]).iloc[-1]
    assert last_c1.n_late == 1
    assert last_c1.n == want["c1"].n
    assert last_c1.n_missing == want["c1"].n_missing


def test_stream_seasonal_anomaly_matches_batch(spark, tmp_path):
    """Streaming seasonal scoring against a batch-computed baseline
    flags exactly the buckets the batch operator flags: offline
    median baseline, online integer cross-multiplication, one
    broadcast join."""
    from beats_analytics.events import seasonal_anomaly
    from beats_analytics.streaming import stream_seasonal_anomaly

    # history: two keys, hourly counts over several days with one
    # hot (key, day, hour) cell
    rows = []
    for day in range(1, 5):
        for hour in (3, 12):
            for k in ("web", "db"):
                n = 10 if k == "web" else 4
                if k == "web" and hour == 3 and day == 4:
                    n = 100                      # the anomaly
                for i in range(n):
                    rows.append((k, f"2024-01-0{day}T"
                                 f"{hour:02d}:00:{i % 60:02d}"))
    hist = spark.createDataFrame(rows, "k string, ts string") \
        .select("k", F.col("ts").cast("timestamp").alias("ts"))
    batch = seasonal_anomaly(hist, "k", "ts")
    baseline = batch.select(F.col("k").alias("key"), "hour", "med2") \
        .distinct()

    # live stream: replay the SAME bucketed counts as a file stream
    counts = (hist.groupBy(F.col("k").alias("key"),
                           F.to_date("ts").alias("day"),
                           F.hour("ts").cast("int").alias("hour"))
              .agg(F.count(F.lit(1)).alias("n")))
    src = str(tmp_path / "cnt"); os.makedirs(src)
    counts.coalesce(1).write.parquet(os.path.join(src, "b1"))
    stream = (spark.readStream
              .schema("key string, day date, hour int, n bigint")
              .parquet(src + "/*"))
    q = (stream_seasonal_anomaly(stream, baseline, "key", "hour", "n")
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.key, str(r.day), r.hour): r.is_spike
           for r in spark.read.parquet(str(tmp_path / "out"))
           .collect()}
    want = {(r.k, str(r.day), r.hour): r.is_spike
            for r in batch.collect()}
    assert got == want
    assert got[("web", "2024-01-04", 3)] is True
    assert sum(1 for v in got.values() if v) == 1

    # a key absent from the baseline scores NULL, not "normal"
    src2 = str(tmp_path / "cnt2"); os.makedirs(src2)
    spark.createDataFrame([("new", 12, 999)],
                          "key string, hour int, n long") \
        .coalesce(1).write.parquet(os.path.join(src2, "b1"))
    st2 = (spark.readStream.schema("key string, hour int, n long")
           .parquet(src2 + "/*"))
    q2 = (stream_seasonal_anomaly(st2, baseline, "key", "hour", "n")
          .writeStream.format("parquet")
          .option("path", str(tmp_path / "out2"))
          .option("checkpointLocation", str(tmp_path / "ck2"))
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    r = spark.read.parquet(str(tmp_path / "out2")).collect()[0]
    assert r.is_spike is None


def test_stateful_rolling_quantile_matches_batch(spark, tmp_path):
    """Streaming trailing-window nearest-rank quantile matches the
    batch window row-for-row across micro-batches and a restart; a
    replayed sample late-marks without touching the ring buffer."""
    from beats_analytics.events import rolling_quantile
    from beats_analytics.streaming import stateful_rolling_quantile
    src = str(tmp_path / "rq_src"); os.makedirs(src)
    t0 = 1_700_000_000_000_000
    vals = [50, 10, 90, 30, 70, 20, 80, 40]
    rows_all = [("h", t0 + i * 1_000_000, v)
                for i, v in enumerate(vals)]

    def mk(rows, fname):
        spark.createDataFrame(rows, "host string, us long, x long") \
            .select("host", F.timestamp_micros("us").alias("ts"), "x") \
            .coalesce(1).write.parquet(os.path.join(src, fname))

    def run():
        stream = (spark.readStream
                  .schema("host string, ts timestamp, x long")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(src + "/*"))
        q = (stateful_rolling_quantile(stream, "host", "ts", "x",
                                       frame_rows=4, q_pct=75)
             .writeStream.format("parquet")
             .option("path", str(tmp_path / "rq_out"))
             .option("checkpointLocation", str(tmp_path / "rq_ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    mk(rows_all[:5], "b1")
    run()
    mk(rows_all[5:], "b2")          # restart restores the ring buffer
    run()
    got = {r.ts.isoformat(): r.q_value for r in
           spark.read.parquet(str(tmp_path / "rq_out")).collect()
           if not r.late}

    batch_in = spark.createDataFrame(
        rows_all, "host string, us long, x long") \
        .select("host", F.timestamp_micros("us").alias("ts"), "x")
    want = {r.ts.isoformat(): r.q_value for r in
            rolling_quantile(batch_in, "host", "ts", "x",
                             frame_rows=4, q_pct=75).collect()}
    assert got == want and len(got) == len(vals)

    mk([("h", t0, 999)], "b3")       # replay: late, state untouched
    run()
    lates = [r for r in spark.read.parquet(str(tmp_path / "rq_out"))
             .collect() if r.late]
    assert len(lates) == 1 and lates[0].q_value is None


def test_stateful_cusum_matches_batch(spark, tmp_path):
    """Streaming CUSUM fires the identical alarm set as the batch
    fold across micro-batches and a restart (both statistics reset
    after an alarm, integer spelling shared)."""
    from beats_analytics.events import cusum_alarms
    from beats_analytics.streaming import stateful_cusum
    src = str(tmp_path / "cu_src"); os.makedirs(src)
    # mean shift upward after seq 5 → one 'up' alarm, then reset
    vals = [0, 100_000, -50_000, 0, 50_000,
            900_000, 900_000, 900_000, 0, -900_000, -900_000,
            -900_000, -900_000]
    rows_all = [("k", i, v) for i, v in enumerate(vals)]

    def mk(rows, fname):
        spark.createDataFrame(
            rows, "key string, seq long, x_micro long") \
            .coalesce(1).write.parquet(os.path.join(src, fname))

    def run():
        stream = (spark.readStream
                  .schema("key string, seq long, x_micro long")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(src + "/*"))
        q = (stateful_cusum(stream, "key", "seq", "x_micro",
                            threshold_micro=1_000_000)
             .writeStream.format("parquet")
             .option("path", str(tmp_path / "cu_out"))
             .option("checkpointLocation", str(tmp_path / "cu_ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    mk(rows_all[:7], "b1")
    run()
    mk(rows_all[7:], "b2")           # restart restores (S+, S-)
    run()
    got = sorted((r.seq, r.direction, r.stat_micro) for r in
                 spark.read.parquet(str(tmp_path / "cu_out"))
                 .collect())
    want = sorted((r.seq, r.direction, r.stat_micro) for r in
                  cusum_alarms(
                      spark.createDataFrame(
                          rows_all,
                          "key string, seq long, x_micro long"),
                      "key", "seq", "x_micro",
                      threshold_micro=1_000_000).collect())
    assert got == want
    assert {d for _, d, _ in got} == {"up", "down"}


def test_stateful_slo_burn_matches_batch(spark, tmp_path):
    """Streaming burn-rate emissions match the batch operator
    bit-for-bit — including the calendar-gap rule, where the RANGE
    frame must shrink over quiet buckets — across micro-batches and
    a restart."""
    from beats_analytics.events import slo_burn
    from beats_analytics.streaming import stateful_slo_burn
    src = str(tmp_path / "sb_src"); os.makedirs(src)
    # (bucket index, events, errors) with a 4-bucket calendar gap
    rows_all = [("svc", 0, 100, 1), ("svc", 1, 100, 5),
                ("svc", 2, 100, 0), ("svc", 6, 100, 9),
                ("svc", 7, 100, 2), ("svc", 8, 100, 0)]

    def mk(rows, fname):
        spark.createDataFrame(
            rows, "key string, bucket long, n_events long, "
                  "n_errors long") \
            .coalesce(1).write.parquet(os.path.join(src, fname))

    def run():
        stream = (spark.readStream
                  .schema("key string, bucket long, n_events long, "
                          "n_errors long")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(src + "/*"))
        q = (stateful_slo_burn(stream, "key", "bucket",
                               "n_events", "n_errors", horizon=3)
             .writeStream.format("parquet")
             .option("path", str(tmp_path / "sb_out"))
             .option("checkpointLocation", str(tmp_path / "sb_ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    mk(rows_all[:4], "b1")
    run()
    mk(rows_all[4:], "b2")            # restart restores the ring
    run()
    got = {r.bucket: (r.burn_micro, r.rolling_burn_micro) for r in
           spark.read.parquet(str(tmp_path / "sb_out")).collect()
           if not r.late}

    # batch reference over the same buckets (bucket_s=1: the index
    # IS the bucket; feed pre-bucketed via a raw reconstruction)
    raw = []
    for k, b, ev, er in rows_all:
        raw += [(k, b, 1)] * er + [(k, b, 0)] * (ev - er)
    batch_in = spark.createDataFrame(
        raw, "key string, ts long, err int") \
        .select("key", F.timestamp_seconds("ts").alias("ts"), "err")
    want = {int(r.bucket_start.timestamp()):
            (r.burn_micro, r.rolling_burn_micro) for r in
            slo_burn(batch_in, "ts", "err", key_col="key",
                     bucket_s=1, horizon=3).collect()}
    assert got == want and len(got) == len(rows_all)
    # the gap bucket's rolling burn covers itself alone (ring
    # evicted): 9 errors / 100 events / 1% budget = 9x budget
    assert got[6][1] == 9_000_000
