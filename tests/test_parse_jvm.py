"""The shipped parse stage runs as Catalyst expressions, with no Python
worker. These tests hold it to the Python reference it replaced
(``segment_lines`` + ``Dissector.dissect_safe``) on adversarial pages,
keep bad input from failing a task, pin the routed schema and check the
compiled-plan cache."""

import gc
import json
import os
import re
import uuid
import weakref
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from beats_spark import fixtures
from beats_spark.dissect.spark import FLAG_PARSING_ERROR, cast_for
from beats_spark.dissect.tokenizer import Dissector
from beats_spark.functions.multiline import segment_lines
from beats_spark.lookup import _folded, enrich
from beats_spark.pipeline import (
    _LOOKUPS, CONTINUATION, MAX_LINES, TOKENIZER, _parse_stage,
    build_events, build_routed, run_pipeline)

PAGES_DDL = "url string, warc_ts timestamp, lang string, text string"
KEYS = ["ts", "bytes", "host", "level", "msg"]
TS = datetime(2024, 1, 1, tzinfo=timezone.utc)


def python_whitespace():
    r"""Every character but ``\n`` that Python's ``\s`` matches."""
    return [c for c in map(chr, range(0x110000))
            if c != "\n" and re.match(r"\s", c)]


def good(n, bytes_="12"):
    return (f'ts=2024-01-01T00:00:{n % 60:02d}Z level=info host=h{n} '
            f'bytes={bytes_} msg="m{n}"')


def adversarial_pages():
    pages = [
        ("null", None), ("empty", ""), ("break", "\n"),
        ("breaks", "\n\n\n"), ("lead", "\n" + good(1)),
        ("trail", good(1) + "\n"), ("double", good(1) + "\n\n" + good(2)),
        ("crlf", good(1) + "\r\n" + good(2) + "\r\n continued\r\n"),
        ("ws_only", "   \n\t"),
        ("empty_msg", good(1).replace('msg="m1"', 'msg=""')),
        ("unterminated", good(1).replace('msg="m1"', 'msg="never closed')),
        ("hex", good(1, "0x1F") + "\n" + good(2, "0X1f ") + "\n"
         + good(3, "0x") + "\n" + good(4, "12x")),
        ("quotes", good(1).replace('"m1"', '"a"b"')),
        ("repeated", 'ts=a level=b level=c host=d bytes=1 msg="x" msg="y"'),
        ("bad_ts", good(1).replace("2024-01-01T00:00:01Z", "yesterday")),
        ("astral", good(1).replace("host=h1", "host=\U0001d518\U0001d52b")
         .replace('"m1"', '"\U0001F600 ok"')
         + "\n\U0001F600 not a continuation\n\u3000\U00020000 continued"),
        ("nul", good(1).replace('"m1"', '"a\x00b"')),
        ("lines_500", "\n".join([good(1)] + [f" f{i}" for i in range(499)])),
        ("lines_501", "\n".join([good(1)] + [f" f{i}" for i in range(500)])),
        ("lines_600", "\n".join([good(1)] + [f"\tf{i}" for i in range(599)])
         + "\n" + good(2)),
    ]
    for c in python_whitespace():
        pages.append((f"cont_{ord(c):04x}",
                      good(1) + "\n" + c + "continued\n" + good(2)))
        pages.append((f"lead_{ord(c):04x}", c + good(3)))
    return pages


def reference_rows(pages):
    """The Python reference: multiline pattern '^\\s', match after,
    max_lines 500, then dissect on the joined message."""
    d = Dissector(TOKENIZER)
    rows = []
    for url, text in pages:
        if text is None:
            continue
        messages = segment_lines(text.split("\n"), pattern=r"^\s",
                                 negate=False, match="after",
                                 max_lines=MAX_LINES)
        for i, m in enumerate(messages):
            kv = d.dissect_safe(m)
            rows.append((url, i, m, *[kv[k] if kv else None for k in KEYS],
                         [] if kv else [FLAG_PARSING_ERROR]))
    return rows


def pages_frame(spark, pages):
    return spark.createDataFrame(
        [(u, TS, "en", t) for u, t in pages], PAGES_DDL)


def test_continuation_class_is_python_whitespace():
    isspace = {chr(c) for c in range(0x110000) if chr(c).isspace()}
    assert set(CONTINUATION) == isspace - {"\n"}
    assert len(CONTINUATION) == len(set(CONTINUATION)) == 28
    # and it is the set the reference's '^\s' joins on
    assert set(CONTINUATION) == set(python_whitespace())


def test_jvm_parse_matches_python_reference(spark):
    pages = adversarial_pages()
    ref = spark.createDataFrame(
        reference_rows(pages),
        "url string, msg_idx int, message string, ts string, bytes string, "
        "host string, level string, msg string, log_flags array<string>")
    want = ref.select(
        "url", "msg_idx", "message", cast_for("long", F.col("bytes"))
        .alias("bytes"), "host", "level", "msg", "log_flags",
        F.try_to_timestamp("ts", F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .alias("event_ts"))
    got = build_events(pages_frame(spark, pages))
    assert got.columns == ["url", "warc_ts", "lang"] + want.columns[1:]

    def rows(df):
        return sorted(df.select(*want.columns).collect(),
                      key=lambda r: (r.url, r.msg_idx))

    got_rows, want_rows = rows(got), rows(want)
    assert len(got_rows) == len(want_rows)
    for g, w in zip(got_rows, want_rows):
        assert g == w, (g.url, g.msg_idx)
    # the cases exercise what they name
    by = {(r.url, r.msg_idx): r for r in got_rows}
    assert by[("lines_600", 0)].message.count("\n") == MAX_LINES - 1
    assert by[("lines_600", 1)].host == "h2"
    assert by[("hex", 0)].bytes == 31 and by[("hex", 1)].bytes == 31
    assert by[("unterminated", 0)].log_flags == [FLAG_PARSING_ERROR]
    assert ("null", 0) not in by and by[("empty", 0)].message == ""
    assert all(by[(f"cont_{ord(c):04x}", 0)].message.endswith(c + "continued")
               for c in python_whitespace())


def _write_pages(path, pages):
    os.makedirs(path)
    pq.write_table(pa.table({
        "url": [u for u, _ in pages],
        "warc_ts": pa.array([TS] * len(pages), pa.timestamp("us", "UTC")),
        "lang": ["en"] * len(pages),
        "text": [t for _, t in pages],
    }), os.path.join(path, "part-0.parquet"))


def test_bad_input_never_fails_a_task(spark, tmp_path):
    """A 5 MB single-line page whose delimiters repeat (a backtracking
    regex would retry each one) and a page of 100k continuation lines
    go through in one task attempt each."""
    huge = ("ts=2024-01-01T00:00:00Z" + " level=" * 700_000
            + ' host=h bytes=1 msg="unterminated')
    assert len(huge) > 4_900_000
    deep = "\n".join([good(1)] + [f" at frame {i}" for i in range(100_000)])
    corrupt = good(2) + "\n!!corrupt line with no key=value shape"
    pages = [("huge", huge), ("deep", deep), ("corrupt", corrupt)]
    _write_pages(str(tmp_path / "pages"), pages)

    sc = spark.sparkContext
    group = f"bad-input-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "bad input")
    try:
        res = run_pipeline(
            spark, spark.read.parquet(str(tmp_path / "pages")),
            fixtures.host_meta(spark), fixtures.lang_meta(spark),
            str(tmp_path / "out"), snapshot_id="bad-input")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    stages = [s for j in tracker.getJobIdsForGroup(group)
              for s in tracker.getJobInfo(j).stageIds]
    assert stages
    assert all(tracker.getStageInfo(s).numFailedTasks == 0 for s in stages)

    routed = spark.read.parquet(
        os.path.join(str(tmp_path / "out"), "runs", res.run_id, "routed"))
    got = {(r.url, r.msg_idx): r for r in
           routed.select("url", "msg_idx", "message", "sink").collect()}
    assert sorted(got) == [("corrupt", 0), ("corrupt", 1), ("deep", 0),
                           ("huge", 0)]
    assert got[("deep", 0)].message == "\n".join(deep.split("\n")[:MAX_LINES])
    assert got[("deep", 0)].sink == "sink_es"
    assert got[("huge", 0)].message == huge
    assert got[("huge", 0)].sink == "sink_deadletter"
    assert got[("corrupt", 1)].sink == "sink_deadletter"
    assert res.metrics["output.sink_deadletter.events.acked"] == 2


# build_routed's schema before the parse moved into the JVM, over pages
# read from parquet: names, types and nullability
ROUTED_SCHEMA = [
    ("url", "string", True), ("warc_ts", "timestamp", True),
    ("lang", "string", True), ("msg_idx", "int", True),
    ("message", "string", True), ("bytes", "bigint", True),
    ("host", "string", True), ("level", "string", True),
    ("msg", "string", True), ("log_flags", "array<string>", False),
    ("event_ts", "timestamp", True), ("geo_country", "string", True),
    ("geo_city", "string", True), ("asn", "bigint", True),
    ("resolved_ip", "string", True), ("registered_domain", "string", True),
    ("lang_label", "string", True), ("sink_hint", "string", True),
    ("event_id", "string", True), ("sink", "string", False),
]


def test_routed_schema_is_pinned(spark, tmp_path):
    """The frame's schema, and the schema the write puts in the parquet
    footers, which follows the optimized plan's nullability."""
    path = str(tmp_path / "pages")
    fixtures.pages(spark, 20).write.parquet(path)
    routed = build_routed(spark.read.parquet(path), fixtures.host_meta(spark),
                          fixtures.lang_meta(spark))
    schema = routed.schema
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in schema.fields] == ROUTED_SCHEMA
    assert schema["log_flags"].dataType.containsNull

    routed.coalesce(1).write.parquet(str(tmp_path / "routed"))
    (part,) = [f for f in os.listdir(tmp_path / "routed")
               if f.endswith(".parquet")]
    footer = pq.read_schema(str(tmp_path / "routed" / part))
    assert [(f.name, f.nullable) for f in footer] == \
        [(name, nullable) for name, _, nullable in ROUTED_SCHEMA]
    written = StructType.fromJson(json.loads(
        footer.metadata[b"org.apache.spark.sql.parquet.row.metadata"]))
    assert written == schema


def test_compiled_plan_is_reused_and_released(spark):
    from py4j.clientserver import ClientServerConnection

    pages = fixtures.pages(spark, 20)
    hm, lm = fixtures.host_meta(spark), fixtures.lang_meta(spark)
    events = build_events(pages)
    # the column names build_routed threads through its enrich steps are
    # the parse stage's own
    assert tuple(events.columns) == _parse_stage()[2]
    # enrich over the parsed events builds the very steps build_routed
    # applies: a build finds them all and adds none
    for lookup, (on, fields, tag) in zip((hm, lm), _LOOKUPS):
        events = enrich(events, lookup, on=on, lookup_key=on, fields=fields,
                        tag_on_failure=tag)

    def entries():
        return [{k: id(v) for k, v in _folded[f].items()} for f in (hm, lm)]

    built = entries()
    build_routed(pages, hm, lm)
    assert entries() == built

    calls = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        # not the deletes py4j sends as Python drops Java references
        if not command.startswith("m\nd\n"):
            calls.append(command)
        return send(self, command, *args, **kwargs)

    gc.collect()
    ClientServerConnection.send_command = counting
    try:
        build_routed(pages, hm, lm)
    finally:
        ClientServerConnection.send_command = send
    assert len(calls) < 100

    # a new lookup frame gets entries of its own
    lm2 = fixtures.lang_meta(spark)
    build_routed(pages, hm, lm2)
    assert lm2 in _folded and entries() == built

    # the entries hold no frame: they go when the frames are collected
    frames = [weakref.ref(f) for f in (hm, lm, lm2)]
    del hm, lm, lm2, lookup
    gc.collect()
    assert [f() for f in frames] == [None, None, None]


def test_large_lookup_is_a_broadcast_join_between_the_selects(spark):
    hm, lm = fixtures.host_meta(spark), fixtures.lang_meta(spark)
    filler = spark.range(2000).select(
        F.concat(F.lit("filler-"), F.col("id").cast("string")).alias("host"),
        F.lit("XX").alias("geo_country"), F.lit("nowhere").alias("geo_city"),
        F.col("id").alias("asn"), F.lit("0.0.0.0").alias("resolved_ip"),
        F.lit("filler").alias("registered_domain"))
    big = hm.unionByName(filler)
    pages = fixtures.pages(spark, 100)
    routed = build_routed(pages, big, lm)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1
    folded = build_routed(pages, hm, lm)
    assert routed.schema == folded.schema
    # no event host is a filler host, so both lookups give the same rows
    def rows(df):
        return sorted(df.collect(), key=lambda r: (r.url, r.msg_idx))

    assert rows(routed) == rows(folded)
