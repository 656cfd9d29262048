"""The driver-contract query catalog: one entry per implemented
operator family of SURVEY.md §2 (the shipper surface), each
with a DuckDB-runnable oracle SQL string that must match row-for-row.

Parity rules used throughout (Spark ⇄ DuckDB):

- hashes: md5/sha256 hex strings are identical on both engines;
- counts: Spark ``count`` and DuckDB ``count`` are both int64; DuckDB
  ``sum(BIGINT)`` is HUGEINT so oracles CAST back to BIGINT; Spark
  ``F.size``/DuckDB ``len`` sizes are cast to bigint explicitly;
- money sums: per-row cents (``round(x*100) → bigint``) summed exactly,
  divided by 100.0 at the end — exact cross-engine equality instead of
  float-accumulation luck;
- doubles in output: rounded (4-6 decimals) on both sides;
- top-k / row_number: always a deterministic total order (value then
  id), and ranking happens on the *rounded* score so both engines rank
  identical inputs.
"""

from __future__ import annotations

from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import fixtures
from .conditions import compile_condition
from .dissect.spark import apply_dissect
from .functions.grok import grok_extract
from .functions.multiline import multiline_join_col
from .processors import compile_processors
from .routing import route
from .fmtstr import compile_fmtstr
from .lookup import local_frame

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


_SHIPPED_SESSIONS: set = set()


def _ensure_workers_can_import(spark: SparkSession,
                               package: str = "beats_spark") -> None:
    """Executor Python workers do NOT inherit the driver's sys.path —
    when the harness loads ``__spark_entry__`` by file path with no
    PYTHONPATH, cloudpickled closures referencing ``package`` (a
    top-level package beside ``beats_spark``) fail to unpickle on
    workers. Ship the package zip via addPyFile once per session (a
    no-op when PYTHONPATH already covers it)."""
    key = (id(spark), package)
    if key in _SHIPPED_SESSIONS:
        return
    _SHIPPED_SESSIONS.add(key)
    import hashlib
    import os
    import zipfile
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(pkg_root, package)
    sources = []
    for base, _dirs, files in os.walk(pkg):
        if "__pycache__" in base:
            continue
        for f in sorted(files):
            if f.endswith(".py"):
                sources.append(os.path.join(base, f))
    # key the zip on a content hash so executors never receive a stale
    # package after a source edit (the old fixed name cached forever)
    h = hashlib.md5()
    for full in sorted(sources):
        h.update(full.encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    zip_path = os.path.join(
        "/tmp", f"{package}_pyfiles_{h.hexdigest()[:12]}.zip")
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for full in sorted(sources):
                z.write(full, os.path.relpath(full, pkg_root))
        os.replace(tmp, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # e.g. Spark Connect without SparkContext — PYTHONPATH rules


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # every catalog query assumes UTC wall-clock semantics (the DuckDB
    # oracles compute on naive timestamps); pin it so results don't
    # depend on the host session's timezone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ensure_workers_can_import(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =====================================================================
# §2.2 conditions
# =====================================================================


@query("pivot_daily", oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(coalesce(count(*) FILTER (event_type = 'click'), 0)
            AS BIGINT) AS click_n,
       CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                     FILTER (event_type = 'click'), 0) AS BIGINT)
         AS click_cents,
       CAST(coalesce(count(*) FILTER (event_type = 'purchase'), 0)
            AS BIGINT) AS purchase_n,
       CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                     FILTER (event_type = 'purchase'), 0) AS BIGINT)
         AS purchase_cents,
       CAST(coalesce(count(*) FILTER (event_type = 'error'), 0)
            AS BIGINT) AS error_n,
       CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                     FILTER (event_type = 'error'), 0) AS BIGINT)
         AS error_cents
FROM events GROUP BY 1
""")
def pivot_daily_q(spark, sf_dir):
    """Relational pivot — the day × event_type matrix via
    ``groupBy().pivot()`` with an EXPLICIT value list, which is the
    at-scale idiom: without it Spark first runs a blocking distinct
    job over 10^12 rows just to learn the column set (and an
    unexpected cardinality explosion becomes a 10^6-column schema).
    Two aggregates per cell (count + integer-cents sum); absent
    cells coalesce to 0 so the matrix is dense and hash-stable. The
    oracle is the classic conditional-aggregation spelling — the
    identity pivot compiles down to."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    piv = (ev.select(day, "event_type",
                     F.round(F.col("value") * 100).cast("long")
                     .alias("cents"))
           .groupBy("day")
           .pivot("event_type", ["click", "purchase", "error"])
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("cents")))
    cols = [F.col("day")]
    for t in ("click", "purchase", "error"):
        cols.append(F.coalesce(F.col(f"{t}_n"), F.lit(0))
                    .alias(f"{t}_n"))
        cols.append(F.coalesce(F.col(f"{t}_cents"), F.lit(0))
                    .alias(f"{t}_cents"))
    return piv.select(*cols)


@query("unpivot_roundtrip", oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM events
WHERE event_type IN ('click', 'purchase', 'error')
GROUP BY 1, 2
""")
def unpivot_roundtrip_q(spark, sf_dir):
    """Unpivot (melt): the wide day × type matrix from
    ``pivot_daily``'s construction, folded back to long rows with
    ``stack`` — and the oracle is the DIRECT long-form aggregation,
    so the query proves the pivot→unpivot round trip is the
    identity (absent combinations round-trip through the dense 0
    cells and are dropped on the way back). stack() is a generator
    projection: the melt is map-side, no shuffle beyond the pivot's
    own aggregation."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    piv = (ev.select(day, "event_type",
                     F.round(F.col("value") * 100).cast("long")
                     .alias("cents"))
           .groupBy("day")
           .pivot("event_type", ["click", "purchase", "error"])
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("cents")))
    stack_expr = (
        "stack(3, "
        "'click', click_n, click_cents, "
        "'purchase', purchase_n, purchase_cents, "
        "'error', error_n, error_cents) AS (event_type, n, cents)")
    long = piv.selectExpr("day", stack_expr)
    # absent (day, type) cells are NULL in the wide form: drop them on
    # the way back (the direct aggregation never had those rows)
    return long.filter(F.col("n").isNotNull())


@query("conditions_filter", oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_value
FROM events
WHERE value >= 50 AND value < 150
  AND (event_type = 'click' OR event_type LIKE '%purch%')
  AND NOT user_id = 13
GROUP BY event_type
""")
def conditions_filter(spark, sf_dir):
    """Condition compiler: range + or(equals, contains) + not."""
    ev = _t(spark, sf_dir, "events")
    cond = compile_condition({"and": [
        {"range": {"value": {"gte": 50, "lt": 150}}},
        {"or": [{"equals": {"event_type": "click"}},
                {"contains": {"event_type": "purch"}}]},
        {"not": {"equals": {"user_id": 13}}},
    ]})
    return (ev.filter(cond)
              .groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   (F.sum(_cents(F.col("value"))) / 100.0)
                   .alias("total_value")))


# =====================================================================
# §2.7 routing (outil selector: first-match-wins, mappings, default)
# =====================================================================

_ROUTER_RULES = [
    {"index": "sink_err", "when": {"equals": {"event_type": "error"}}},
    {"index": "%{[event_type]}",
     "mappings": {"purchase": "sink_commerce", "signup": "sink_commerce"}},
]


@query("router_fanout", oracle="""
SELECT CASE WHEN event_type = 'error' THEN 'sink_err'
            WHEN event_type IN ('purchase', 'signup') THEN 'sink_commerce'
            ELSE 'sink_default' END AS sink,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_value
FROM events GROUP BY sink
""")
def router_fanout(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    routed = route(ev, _ROUTER_RULES, default="sink_default")
    return (routed.groupBy("sink")
                  .agg(F.count(F.lit(1)).alias("n"),
                       (F.sum(_cents(F.col("value"))) / 100.0)
                       .alias("total_value")))


@query("fmtstr_index", oracle="""
SELECT 'logs-' || event_type || '-' || strftime(ts, '%Y.%m.%d') AS idx,
       count(*) AS n
FROM events GROUP BY idx
""")
def fmtstr_index(spark, sf_dir):
    """Event format strings incl. %{+date} pattern (add_formatted_index)."""
    ev = _t(spark, sf_dir, "events")
    idx = compile_fmtstr("logs-%{[event_type]}-%{+yyyy.MM.dd}",
                         timestamp_field="ts")
    return (ev.select(idx.alias("idx"))
              .groupBy("idx").agg(F.count(F.lit(1)).alias("n")))


# =====================================================================
# §2.3/2.4 processor chain
# =====================================================================

@query("processor_chain", oracle="""
SELECT event_id,
       'web' AS pipeline,
       event_type AS etype,
       CAST(trunc(value) AS BIGINT) AS val_long,
       CASE WHEN length(props) > 6 THEN substr(props, 1, 6)
            ELSE props END AS props_raw,
       sha256('|event_id|' || CAST(event_id AS VARCHAR)
              || '|event_type|' || event_type || '|') AS fingerprint
FROM events
""")
def processor_chain(spark, sf_dir):
    """add_fields → copy → rename → convert → truncate → fingerprint →
    drop_fields, via the chain compiler."""
    ev = _t(spark, sf_dir, "events")
    chain = compile_processors([
        {"add_fields": {"target": "", "fields": {"pipeline": "web"}}},
        {"copy_fields": {"fields": [{"from": "event_type", "to": "etype"}]}},
        {"rename": {"fields": [{"from": "props", "to": "props_raw"}]}},
        {"convert": {"fields": [
            {"from": "value", "to": "val_long", "type": "long"}]}},
        {"truncate_fields": {"fields": ["props_raw"], "max_characters": 6}},
        {"fingerprint": {"fields": ["event_id", "event_type"],
                         "method": "sha256"}},
    ])
    out = chain(ev)
    return out.select("event_id", "pipeline", "etype", "val_long",
                      "props_raw", "fingerprint")


@query("decode_json", oracle="""
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_sum,
       count(*) AS n
FROM events GROUP BY event_type
""")
def decode_json(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    chain = compile_processors([
        {"decode_json_fields": {"fields": ["props"], "target": "p",
                                "schema": "k bigint"}}])
    return (chain(ev).groupBy("event_type")
            .agg(F.sum("p_k").alias("k_sum"),
                 F.count(F.lit(1)).alias("n")))


@query("json_schema_profile", oracle="""
WITH n AS (
  SELECT count(*) AS c,
         sum(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END) AS m,
         sum(CASE WHEN event_id % 11 = 0 THEN 1 ELSE 0 END) AS bad
  FROM events)
SELECT path, jtype, CAST(cnt AS BIGINT) AS n FROM (
  SELECT 'uid' AS path, 'number' AS jtype, c - bad AS cnt FROM n
  UNION ALL SELECT 'etype', 'string', c - bad FROM n
  UNION ALL SELECT 'big', 'boolean', c - bad FROM n
  UNION ALL SELECT 'ids', 'array', c - bad FROM n
  UNION ALL SELECT 'props', 'object', c - bad FROM n
  UNION ALL SELECT 'props.v', 'number', c - bad FROM n
  UNION ALL SELECT 'props.maybe', 'string',
                   m - sum(CASE WHEN event_id % 5 = 0
                                AND event_id % 11 = 0
                           THEN 1 ELSE 0 END) FROM n, events
            GROUP BY c, m, bad HAVING m > 0
  UNION ALL SELECT 'props.maybe', 'null',
                   (c - bad) - (m - sum(CASE WHEN event_id % 5 = 0
                                             AND event_id % 11 = 0
                                        THEN 1 ELSE 0 END))
            FROM n, events GROUP BY c, m, bad
  UNION ALL SELECT '<invalid>', 'null', bad FROM n WHERE bad > 0
) WHERE cnt > 0
""")
def json_schema_profile_q(spark, sf_dir):
    """JSON corpus schema profile
    (:func:`beats_spark.processors.decode.json_schema_profile`): an
    NDJSON stream synthesized from events — number/string/boolean/
    array/object/nested fields, a sometimes-null nested key, and a
    deliberately truncated (invalid) document every 11th event — is
    profiled into (path, jtype, n) rows. The schema-drift monitor for
    an untrusted firehose: a producer that changes a field's type
    shows up as a new (path, jtype) row. The oracle derives every
    count from the construction, including the string-vs-null split
    on the optional key and the invalid-document sentinel."""
    from .processors.decode import json_schema_profile
    ev = _t(spark, sf_dir, "events")
    j = F.to_json(
        F.struct(
            F.col("user_id").alias("uid"),
            F.col("event_type").alias("etype"),
            (F.col("value") > 250).alias("big"),
            F.array(F.lit(1), F.col("event_id")).alias("ids"),
            F.struct(
                F.col("value").alias("v"),
                F.when(F.col("event_id") % 5 == 0, F.col("event_type"))
                 .alias("maybe")).alias("props")),
        {"ignoreNullFields": "false"})
    # every 11th doc arrives truncated (producer crash mid-write)
    doc = F.when(F.col("event_id") % 11 == 0,
                 F.substring(j, 1, 10)).otherwise(j)
    return json_schema_profile(ev.select(doc.alias("message")),
                               "message", max_depth=2)


@query("rate_limit", oracle="""
SELECT user_id, count(*) AS kept FROM (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id, date_trunc('minute', ts)
                            ORDER BY ts, event_id) AS rn
  FROM events) t
WHERE rn <= 5 GROUP BY user_id
""")
def rate_limit_q(spark, sf_dir):
    """rate_limit processor: ≤5 events per user per minute,
    deterministic winners (ts, event_id order)."""
    ev = _t(spark, sf_dir, "events")
    chain = compile_processors([
        {"rate_limit": {"limit": "5/m", "fields": ["user_id"],
                        "timestamp_field": "ts",
                        "order_by": ["event_id"]}}])
    return (chain(ev).groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("kept")))


@query("rate_limit_bucket", oracle="""
WITH RECURSIVE ev AS (
  SELECT user_id AS k, event_id AS id,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS BIGINT) AS rn,
         epoch_us(ts) AS us
  FROM events),
scan AS (
  SELECT k, id, rn, us,
         CAST(300000000 - 60000000 AS BIGINT) AS tok, TRUE AS allowed
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.k, e.id, e.rn, e.us,
         CASE WHEN s.tok + (e.us - s.us) * 5 >= 60000000
              THEN s.tok + (e.us - s.us) * 5 - 60000000
              ELSE s.tok + (e.us - s.us) * 5 END,
         s.tok + (e.us - s.us) * 5 >= 60000000
  FROM scan s JOIN ev e ON e.k = s.k AND e.rn = s.rn + 1)
SELECT k AS user_id,
       CAST(count(*) FILTER (WHERE allowed) AS BIGINT) AS kept
FROM scan GROUP BY k
""")
def rate_limit_bucket_q(spark, sf_dir):
    """The reference's actual rate-limit algorithm — continuous-refill
    token bucket (``token_bucket.go:37-65``), 5/min per user, bucket
    starts full at depth 5. Integer micro-token arithmetic makes the
    sequential scan exactly reproducible by DuckDB's recursive CTE —
    an exact oracle for an inherently recursive (non-window) operator."""
    ev = _t(spark, sf_dir, "events")
    chain = compile_processors([
        {"rate_limit": {"limit": "5/m", "fields": ["user_id"],
                        "timestamp_field": "ts",
                        "order_by": ["event_id"],
                        "algorithm": "token_bucket"}}])
    return (chain(ev).groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("kept")))


# =====================================================================
# §2.4 dissect / grok (tokenizers over a synthesized log line)
# =====================================================================

@query("dissect_extract", oracle="""
WITH lines AS (
  SELECT event_id,
         'evt=' || event_type || ' user=' || CAST(user_id AS VARCHAR)
         || ' bytes=' || CAST(event_id % 1000 AS VARCHAR) AS message
  FROM events)
SELECT regexp_extract(message, 'evt=([^ ]+) user=', 1) AS etype,
       CAST(sum(CAST(regexp_extract(message, 'bytes=([0-9]+)$', 1)
                     AS BIGINT)) AS BIGINT) AS bytes_sum,
       count(DISTINCT regexp_extract(message, 'user=([0-9]+)', 1)) AS n_users,
       count(*) AS n
FROM lines GROUP BY etype
""")
def dissect_extract(spark, sf_dir):
    """Dissect tokenizer (Catalyst ``regexp_extract``) round-trip:
    synthesize a log line from typed columns, tokenize it back,
    aggregate the typed results."""
    ev = _t(spark, sf_dir, "events")
    line = F.concat(F.lit("evt="), F.col("event_type"),
                    F.lit(" user="), F.col("user_id").cast("string"),
                    F.lit(" bytes="), (F.col("event_id") % 1000).cast("string"))
    df = ev.select(line.alias("message"))
    df = apply_dissect(df, "evt=%{etype} user=%{uid} bytes=%{b|long}",
                       field="message", target_prefix="")
    return (df.groupBy("etype")
              .agg(F.sum("b").alias("bytes_sum"),
                   F.count_distinct(F.col("uid")).alias("n_users"),
                   F.count(F.lit(1)).alias("n")))


@query("grok_extract", oracle="""
WITH lines AS (
  SELECT 'GET /p/' || CAST(event_id AS VARCHAR) || ' '
         || CAST(200 + (event_id % 4) * 100 AS VARCHAR) || ' '
         || CAST(event_id % 5000 AS VARCHAR) AS message
  FROM events)
SELECT CAST(regexp_extract(message, ' ([0-9]+) [0-9]+$', 1) AS BIGINT)
         AS status,
       count(*) AS n,
       CAST(sum(CAST(regexp_extract(message, ' ([0-9]+)$', 1) AS BIGINT))
            AS BIGINT) AS bytes_sum
FROM lines GROUP BY status
""")
def grok_extract_q(spark, sf_dir):
    """Grok engine (pattern dictionary → typed regexp columns)."""
    ev = _t(spark, sf_dir, "events")
    line = F.concat(F.lit("GET /p/"), F.col("event_id").cast("string"),
                    F.lit(" "),
                    (F.lit(200) + (F.col("event_id") % 4) * 100).cast("string"),
                    F.lit(" "), (F.col("event_id") % 5000).cast("string"))
    df = ev.select(line.alias("message"))
    df = grok_extract(
        df, "message",
        "%{WORD:method} %{NOTSPACE:path} %{NUMBER:status:int} "
        "%{NUMBER:bytes:int}")
    return (df.groupBy("status")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum("bytes").alias("bytes_sum")))


@query("multiline_join", oracle="""
SELECT doc_id,
       2 AS n_events,
       'hdr ' || source ||
         CASE WHEN doc_id % 2 = 0 THEN chr(10) || '  c1' ELSE '' END AS msg1,
       'hdr2 ' || lang ||
         CASE WHEN doc_id % 3 = 0 THEN chr(10) || '  c2' || chr(10) || '  c3'
              ELSE '' END AS msg2
FROM documents
""")
def multiline_join(spark, sf_dir):
    """Multiline joiner byte-identity: continuation lines (leading
    whitespace, match=after) join their event; joined messages must be
    byte-identical with the first-principles reconstruction."""
    docs = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    text = F.concat(
        F.lit("hdr "), F.col("source"),
        F.when(i % 2 == 0, F.lit("\n  c1")).otherwise(F.lit("")),
        F.lit("\nhdr2 "), F.col("lang"),
        F.when(i % 3 == 0, F.lit("\n  c2\n  c3")).otherwise(F.lit("")))
    msgs = multiline_join_col(text, pattern=r"^\s", negate=False,
                              match="after")
    return docs.select(
        "doc_id",
        F.size(msgs).alias("n_events"),
        F.element_at(msgs, 1).alias("msg1"),
        F.element_at(msgs, 2).alias("msg2"))


@query("syslog_parse", oracle="""
WITH lines AS (
  SELECT '<' || CAST(8 + (event_id % 16) AS VARCHAR)
         || '>1 2024-01-02T03:04:05 host' || CAST(user_id AS VARCHAR)
         || ' app' || CAST(event_id % 3 AS VARCHAR) || ' '
         || CAST(event_id AS VARCHAR)
         || ' msg7 - event ' || event_type AS message
  FROM events),
p AS (
  SELECT CAST(regexp_extract(message, '^<([0-9]+)>', 1) AS BIGINT) AS pri,
         regexp_extract(message, '> ?1 [^ ]+ ([^ ]+)', 1) AS hostname,
         regexp_extract(message, ' - event (.*)$', 1) AS msg
  FROM lines)
SELECT CAST(pri % 8 AS INT) AS severity,
       CAST(pri // 8 AS INT) AS facility,
       count(*) AS n,
       count(DISTINCT hostname) AS n_hosts
FROM p GROUP BY severity, facility
""")
def syslog_parse(spark, sf_dir):
    """RFC5424 syslog parse (reader + processor form share the
    implementation): priority → severity/facility arithmetic."""
    from .functions.syslog import parse_syslog_rfc5424
    ev = _t(spark, sf_dir, "events")
    line = F.concat(
        F.lit("<"), (8 + F.col("event_id") % 16).cast("string"),
        F.lit(">1 2024-01-02T03:04:05 host"),
        F.col("user_id").cast("string"),
        F.lit(" app"), (F.col("event_id") % 3).cast("string"),
        F.lit(" "), F.col("event_id").cast("string"),
        F.lit(" msg7 - event "), F.col("event_type"))
    df = parse_syslog_rfc5424(ev.select(line.alias("message")))
    return (df.groupBy(
                F.col("log_syslog_severity_code").alias("severity"),
                F.col("log_syslog_facility_code").alias("facility"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.count_distinct(F.col("syslog_hostname"))
                    .alias("n_hosts")))


@query("registered_domain", oracle="""
WITH h AS (
  SELECT CASE WHEN doc_id % 3 = 0
              THEN source || '.shop.co.uk'
              ELSE source || '.example.com' END AS host
  FROM documents)
SELECT CASE WHEN host LIKE '%.co.uk'
            THEN regexp_extract(host, '([^.]+\\.co\\.uk)$', 1)
            ELSE regexp_extract(host, '([^.]+\\.com)$', 1) END
         AS registered_domain,
       count(*) AS n
FROM h GROUP BY registered_domain
""")
def registered_domain_q(spark, sf_dir):
    """eTLD+1 extraction: longest public-suffix match wins
    (registered_domain/registered_domain.go:76)."""
    docs = _t(spark, sf_dir, "documents")
    host = F.when(F.col("doc_id") % 3 == 0,
                  F.concat(F.col("source"), F.lit(".shop.co.uk"))) \
            .otherwise(F.concat(F.col("source"), F.lit(".example.com")))
    df = docs.select(host.alias("host"))
    chain = compile_processors([
        {"registered_domain": {"field": "host",
                               "suffixes": ["co.uk", "com", "uk"]}}])
    return (chain(df).groupBy("registered_domain")
            .agg(F.count(F.lit(1)).alias("n")))


@query("psl_domains", oracle="""
WITH h AS (
  SELECT CASE CAST(doc_id % 6 AS INT)
           WHEN 0 THEN source || '.blog.example.com'
           WHEN 1 THEN source || '.shop.co.uk'
           WHEN 2 THEN source || '.foo.ck'
           WHEN 3 THEN 'www.ck'
           WHEN 4 THEN source || '.pages.github.io'
           ELSE source || '.unknowntld' END AS host,
         CAST(doc_id % 6 AS INT) AS bucket
  FROM documents)
SELECT CASE bucket
         WHEN 0 THEN 'example.com'
         WHEN 1 THEN 'shop.co.uk'
         WHEN 2 THEN host
         WHEN 3 THEN 'www.ck'
         WHEN 4 THEN 'pages.github.io'
         ELSE host END AS registered_domain,
       CASE bucket
         WHEN 0 THEN regexp_extract(host, '^(.*)\\.example\\.com$', 1)
         WHEN 1 THEN regexp_extract(host, '^(.*)\\.shop\\.co\\.uk$', 1)
         WHEN 4 THEN regexp_extract(host, '^(.*)\\.pages\\.github\\.io$', 1)
         ELSE NULL END AS subdomain,
       count(*) AS n
FROM h GROUP BY registered_domain, subdomain
""")
def psl_domains(spark, sf_dir):
    """Full-PSL eTLD+1 (beats_spark/psl.py): exact, wildcard ``*.ck``,
    exception ``!www.ck``, private-suffix and implicit-``*`` rules via
    K broadcast equi-joins against the bundled rule table — the scale
    path for the real ~9k-rule publicsuffix.org list
    (registered_domain.go:76 → x/net/publicsuffix)."""
    from .psl import registered_domain_psl
    docs = _t(spark, sf_dir, "documents")
    b = (F.col("doc_id") % 6).cast("int")
    host = (F.when(b == 0, F.concat("source", F.lit(".blog.example.com")))
             .when(b == 1, F.concat("source", F.lit(".shop.co.uk")))
             .when(b == 2, F.concat("source", F.lit(".foo.ck")))
             .when(b == 3, F.lit("www.ck"))
             .when(b == 4, F.concat("source", F.lit(".pages.github.io")))
             .otherwise(F.concat("source", F.lit(".unknowntld"))))
    df = docs.select(host.alias("host"))
    out = registered_domain_psl(df, "host", subdomain_target="subdomain")
    return (out.groupBy("registered_domain", "subdomain")
               .agg(F.count(F.lit(1)).alias("n")))


@query("psl_domains_9k", oracle="""
WITH h AS (
  SELECT event_id, CAST(event_id % 7 AS INT) AS b,
         CAST(event_id % 50 AS VARCHAR) AS x,
         CAST(event_id % 800 AS VARCHAR) AS y0,
         CAST(event_id % 1500 AS VARCHAR) AS y1,
         CAST(event_id % 500 AS VARCHAR) AS y2,
         CAST(event_id % 40 AS VARCHAR) AS w,
         CAST(event_id % 10 AS VARCHAR) AS e
  FROM events)
SELECT event_id,
       CASE b
         WHEN 0 THEN 'site' || x || '.co.tld' || y0
         WHEN 1 THEN 'site' || x || '.tld' || y1
         WHEN 2 THEN 'app.metro.gov.tld' || y2
         WHEN 3 THEN 'x.foo' || x || '.wild' || w
         WHEN 4 THEN 'ok.wild' || e
         WHEN 5 THEN 'shop' || x || '.unknown' || x
         ELSE 'img.cdn.edge.net.tld' || CAST(event_id % 50 AS VARCHAR)
       END AS registered_domain,
       CASE b
         WHEN 0 THEN 'co.tld' || y0
         WHEN 1 THEN 'tld' || y1
         WHEN 2 THEN 'metro.gov.tld' || y2
         WHEN 3 THEN 'foo' || x || '.wild' || w
         WHEN 4 THEN 'wild' || e
         WHEN 5 THEN 'unknown' || x
         ELSE 'cdn.edge.net.tld' || CAST(event_id % 50 AS VARCHAR)
       END AS etld
FROM h
""")
def psl_domains_9k(spark, sf_dir):
    """The PSL matcher at production rule-set size: ~9k synthetic
    rules with the real publicsuffix.org shape
    (:func:`beats_spark.psl.synthetic_psl`). Hosts are constructed
    against each rule family (1/2/3/4-label exact, wildcard,
    exception, implicit ``*``), so the expected eTLD+1 is closed-form
    — the oracle never re-implements the matcher. Plan stays K=4
    BroadcastHashJoins over one reused 9k-row broadcast, zero shuffle
    exchanges (asserted in tests/test_psl.py)."""
    from .psl import registered_domain_psl, synthetic_psl
    ev = _t(spark, sf_dir, "events")
    i = F.col("event_id")
    b = (i % 7).cast("int")
    x = (i % 50).cast("string")
    host = (
        F.when(b == 0, F.concat(F.lit("www.site"), x, F.lit(".co.tld"),
                                (i % 800).cast("string")))
         .when(b == 1, F.concat(F.lit("a.b.site"), x, F.lit(".tld"),
                                (i % 1500).cast("string")))
         .when(b == 2, F.concat(F.lit("app.metro.gov.tld"),
                                (i % 500).cast("string")))
         .when(b == 3, F.concat(F.lit("x.foo"), x, F.lit(".wild"),
                                (i % 40).cast("string")))
         .when(b == 4, F.concat(F.lit("sub.ok.wild"),
                                (i % 10).cast("string")))
         .when(b == 5, F.concat(F.lit("www.shop"), x, F.lit(".unknown"),
                                x))
         .otherwise(F.concat(F.lit("img.cdn.edge.net.tld"),
                             (i % 50).cast("string"))))
    df = ev.select("event_id", host.alias("host"))
    out = registered_domain_psl(df, "host", etld_target="etld",
                                rules=synthetic_psl())
    return out.select("event_id", "registered_domain", "etld")


@query("network_condition", oracle="""
WITH ips AS (
  SELECT CASE CAST(user_id % 6 AS INT)
           WHEN 0 THEN '10.1.' || CAST(event_id % 200 AS VARCHAR) || '.9'
           WHEN 1 THEN '192.168.4.' || CAST(event_id % 200 AS VARCHAR)
           WHEN 2 THEN '8.8.8.' || CAST(event_id % 200 AS VARCHAR)
           WHEN 3 THEN '172.20.1.' || CAST(event_id % 200 AS VARCHAR)
           WHEN 4 THEN 'fd12:3456::' || CAST(event_id % 200 AS VARCHAR)
           ELSE '2001:db8::' || CAST(event_id % 200 AS VARCHAR) END AS ip,
         CAST(user_id % 6 AS INT) AS bucket
  FROM events)
SELECT bucket,
       count(*) AS n,
       CAST(sum(CASE WHEN bucket IN (0, 1, 3, 4) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_private
FROM ips GROUP BY bucket
""")
def network_condition(spark, sf_dir):
    """network condition: IP-in-CIDR / named-network membership —
    dotted-quad rows via compile-time mask arithmetic, IPv6 rows
    (fd00::/8 private per the reference's privateIPv6 constant) via
    the Go-predicate Arrow kernel (conditions/network.go:30-55).
    The decimal suffix is a valid hex group, so every generated v6
    string parses."""
    ev = _t(spark, sf_dir, "events")
    b = (F.col("user_id") % 6).cast("int")
    oct4 = (F.col("event_id") % 200).cast("string")
    ip = (F.when(b == 0, F.concat(F.lit("10.1."), oct4, F.lit(".9")))
           .when(b == 1, F.concat(F.lit("192.168.4."), oct4))
           .when(b == 2, F.concat(F.lit("8.8.8."), oct4))
           .when(b == 3, F.concat(F.lit("172.20.1."), oct4))
           .when(b == 4, F.concat(F.lit("fd12:3456::"), oct4))
           .otherwise(F.concat(F.lit("2001:db8::"), oct4)))
    df = ev.select(ip.alias("ip"), b.alias("bucket"))
    is_private = compile_condition({"network": {"ip": "private"}})
    return (df.groupBy("bucket")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.when(is_private, 1).otherwise(0))
                    .cast("bigint").alias("n_private")))


@query("decode_chain", oracle="""
WITH enc AS (
  SELECT event_id,
         to_base64(CAST(event_type || ',' || CAST(user_id AS VARCHAR)
                        AS BLOB)) AS payload
  FROM events),
dec AS (
  SELECT event_id,
         CAST(from_base64(payload) AS VARCHAR) AS csv
  FROM enc)
SELECT string_split(csv, ',')[1] AS etype,
       CAST(sum(CAST(string_split(csv, ',')[2] AS BIGINT)) AS BIGINT)
         AS uid_sum,
       count(*) AS n
FROM dec GROUP BY etype
""")
def decode_chain(spark, sf_dir):
    """decode_base64_field → decode_csv_fields → extract_array chain."""
    ev = _t(spark, sf_dir, "events")
    payload = F.base64(F.encode(
        F.concat(F.col("event_type"), F.lit(","),
                 F.col("user_id").cast("string")), "utf-8"))
    df = ev.select("event_id", payload.alias("payload"))
    chain = compile_processors([
        {"decode_base64_field": {"field": {"from": "payload",
                                           "to": "csv"}}},
        {"decode_csv_fields": {"fields": {"csv": "parts"}}},
        {"extract_array": {"field": "parts",
                           "mappings": {"etype": 0, "uid": 1}}},
    ])
    out = chain(df)
    return (out.groupBy("etype")
               .agg(F.sum(F.col("uid").cast("bigint")).alias("uid_sum"),
                    F.count(F.lit(1)).alias("n")))


# =====================================================================
# §2.6 metrics / counters / timestamps
# =====================================================================

@query("pipeline_counters", oracle="""
WITH routed AS (
  SELECT CASE WHEN event_type = 'error' THEN 'sink_err'
              WHEN event_type IN ('purchase', 'signup') THEN 'sink_commerce'
              ELSE 'sink_default' END AS sink
  FROM events)
SELECT 'events.total' AS metric, count(*) AS value FROM routed
UNION ALL
SELECT 'events.published', count(*) FROM routed WHERE sink <> 'sink_err'
UNION ALL
SELECT 'events.dropped', count(*) FROM routed WHERE sink = 'sink_err'
""")
def pipeline_counters(spark, sf_dir):
    """Beats pipeline monitoring counters as one metrics frame."""
    ev = _t(spark, sf_dir, "events")
    routed = route(ev, _ROUTER_RULES, default="sink_default")
    agg = routed.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("sink") != "sink_err", 1).otherwise(0))
         .cast("bigint").alias("published"),
        F.sum(F.when(F.col("sink") == "sink_err", 1).otherwise(0))
         .cast("bigint").alias("dropped"))
    return agg.selectExpr(
        "stack(3, 'events.total', total, 'events.published', published, "
        "'events.dropped', dropped) as (metric, value)")


@query("windowed_counts", oracle="""
SELECT make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)
                      * 1000000) AS win_start,
       event_type,
       count(*) AS n
FROM events GROUP BY win_start, event_type
""")
def windowed_counts(spark, sf_dir):
    """Tumbling event-time windows (the streaming counter shape,
    batch-checkable: window() aligns to the epoch like
    floor(epoch/size)*size)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.window(F.col("ts"), "5 minutes").alias("w"),
                       "event_type")
              .agg(F.count(F.lit(1)).alias("n"))
              .select(F.col("w.start").alias("win_start"),
                      "event_type", "n"))


@query("timestamp_hist", oracle="""
SELECT date_trunc('hour', ts) AS hour,
       count(*) AS n,
       count(DISTINCT user_id) AS n_users,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             / 100.0 / count(*), 4) AS avg_value
FROM events GROUP BY hour
""")
def timestamp_hist(spark, sf_dir):
    """Hourly histogram; the mean is computed from an exact integer
    cents sum so partial-aggregation order can't flip a rounding
    boundary across engines."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.count_distinct(F.col("user_id")).alias("n_users"),
                   F.round(F.sum(_cents(F.col("value"))) / 100.0
                           / F.count(F.lit(1)), 4).alias("avg_value")))


# =====================================================================
# §2.5 enrichment (broadcast joins) + relational coverage
# =====================================================================

@query("enrich_join", oracle="""
SELECT r_name,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
JOIN customer ON user_id = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""")
def enrich_join(spark, sf_dir):
    """Broadcast-join enrich: fact events × customer/nation/region dims
    (the dns/geoip/add_fields emulation shape)."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (ev.join(F.broadcast(cust),
                    ev["user_id"] == cust["c_custkey"])
              .join(F.broadcast(nat),
                    F.col("c_nationkey") == F.col("n_nationkey"))
              .join(F.broadcast(reg),
                    F.col("n_regionkey") == F.col("r_regionkey"))
              .groupBy("r_name")
              .agg(F.count(F.lit(1)).alias("n"),
                   (F.sum(_cents(F.col("value"))) / 100.0)
                   .alias("total_value"),
                   F.count_distinct(F.col("user_id")).alias("n_users")))


def _cents(col):
    return F.round(col * 100).cast("bigint")


@query("tpch_q1", oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         / 100.0 AS sum_base,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) / 100.0 AS sum_disc_price,
       count(*) AS n
FROM lineitem
WHERE l_discount >= 0.02 AND l_discount <= 0.08
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1(spark, sf_dir):
    """Pricing-summary aggregation (map-side partial agg → tiny
    shuffle); money summed as exact cents for cross-engine equality."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.filter((F.col("l_discount") >= 0.02)
                      & (F.col("l_discount") <= 0.08))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
                   (F.sum(_cents(F.col("l_extendedprice"))) / 100.0)
                   .alias("sum_base"),
                   (F.sum(_cents(disc_price)) / 100.0).alias("sum_disc_price"),
                   F.count(F.lit(1)).alias("n")))


@query("tpch_q3", oracle="""
SELECT o_orderkey,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = (SELECT min(c_mktsegment) FROM customer)
GROUP BY o_orderkey, o_orderpriority
ORDER BY revenue DESC, o_orderkey LIMIT 10
""")
def tpch_q3(spark, sf_dir):
    """Shipping-priority join + deterministic top-k (revenue in exact
    cents, ties broken by key)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # min-segment as a broadcast 1-row join (not a driver collect) so
    # the whole query stays one job
    seg = F.broadcast(cust.agg(F.min("c_mktsegment").alias("__seg")))
    rev = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (cust.join(seg, F.col("c_mktsegment") == F.col("__seg"))
                .drop("__seg")
                .join(orders, F.col("c_custkey") == F.col("o_custkey"))
                .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("o_orderkey", "o_orderpriority")
                .agg((F.sum(rev) / 100.0).alias("revenue"))
                .select("o_orderkey", "revenue", "o_orderpriority")
                .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
                .limit(10))


@query("salted_agg", oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
FROM events GROUP BY event_type
""")
def salted_agg_q(spark, sf_dir):
    """Two-phase salted aggregation (hot-key flattening) — must equal
    the plain groupBy bit-for-bit; the salt only reshapes the shuffle."""
    from .skew import salted_agg
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("v_c", _cents(F.col("value")))
    return salted_agg(ev, ["event_type"],
                      {"n": ("count", ""), "v_cents": ("sum", "v_c")},
                      salts=8)


@query("topk_hot_keys", oracle="""
SELECT user_id, count(*) AS n FROM events
GROUP BY user_id ORDER BY n DESC, user_id LIMIT 20
""")
def topk_hot_keys(spark, sf_dir):
    """Hot-key profile (the skew diagnostic): deterministic top-20."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
              .orderBy(F.col("n").desc(), F.col("user_id")).limit(20))


# =====================================================================
# §2.1 container input (docker json-file lines, partial-line reassembly)
# =====================================================================


@query("container_ndjson", oracle="""
WITH lines AS (
  SELECT CASE WHEN event_id % 2 = 0
    THEN '{"log":"evt ' || CAST(event_id AS VARCHAR) || ' ' || event_type
         || '\\n","stream":"' || CASE WHEN event_id % 4 = 0
                                      THEN 'stdout' ELSE 'stderr' END
         || '","time":"2024-01-02T03:04:05Z"}'
    ELSE '2024-01-02T03:04:06 ' || CASE WHEN event_id % 4 = 1
                                        THEN 'stdout' ELSE 'stderr' END
         || ' F evt ' || CAST(event_id AS VARCHAR) || ' ' || event_type
  END AS message
  FROM events),
parsed AS (
  SELECT CASE WHEN message LIKE '{%'
              THEN json_extract_string(message, '$.stream')
              ELSE regexp_extract(message,
                   '^[^ ]+ (stdout|stderr) ', 1) END AS stream,
         CASE WHEN message LIKE '{%'
              THEN rtrim(json_extract_string(message, '$.log'), chr(10))
              ELSE regexp_extract(message,
                   '^[^ ]+ (?:stdout|stderr) [PF] (.*)$', 1) END AS msg
  FROM lines)
SELECT stream,
       regexp_extract(msg, 'evt [0-9]+ (.*)$', 1) AS etype,
       count(*) AS n
FROM parsed WHERE stream = 'stdout' OR stream = 'stderr'
GROUP BY stream, etype
""")
def container_ndjson(spark, sf_dir):
    """container parser: docker json-file AND CRI lines in one stream
    (auto-detected), stream selection + log extraction
    (readjson/docker_json.go, parser.go:105-117)."""
    from .functions.parsers import parse_container
    ev = _t(spark, sf_dir, "events")
    docker = F.concat(
        F.lit('{"log":"evt '), F.col("event_id").cast("string"),
        F.lit(" "), F.col("event_type"), F.lit('\\n","stream":"'),
        F.when(F.col("event_id") % 4 == 0, "stdout").otherwise("stderr"),
        F.lit('","time":"2024-01-02T03:04:05Z"}'))
    cri = F.concat(
        F.lit("2024-01-02T03:04:06 "),
        F.when(F.col("event_id") % 4 == 1, "stdout").otherwise("stderr"),
        F.lit(" F evt "), F.col("event_id").cast("string"),
        F.lit(" "), F.col("event_type"))
    line = F.when(F.col("event_id") % 2 == 0, docker).otherwise(cri)
    df = parse_container(ev.select(line.alias("message")))
    return (df.groupBy(F.col("container_stream").alias("stream"),
                       F.regexp_extract("message", r"evt [0-9]+ (.*)$", 1)
                        .alias("etype"))
              .agg(F.count(F.lit(1)).alias("n")))


@query("container_partial", oracle="""
WITH e AS (
  SELECT event_id,
         'p' || CAST(event_id // 21 AS VARCHAR) AS path,
         event_id % 21 AS line_no,
         date_trunc('second', ts) AS ts,
         'm' || CAST(event_id AS VARCHAR) AS msg
  FROM events)
SELECT a.path, a.line_no,
       a.msg || coalesce(b.msg, '') || coalesce(c.msg, '') AS message,
       'stdout' AS container_stream,
       a.ts AS container_time
FROM e a
LEFT JOIN e b ON b.event_id = a.event_id + 1
LEFT JOIN e c ON c.event_id = a.event_id + 2
WHERE a.line_no % 3 = 0
""")
def container_partial(spark, sf_dir):
    """CRI partial-line joining (docker_json.go Next loop, ``partial``
    option): lines are grouped 21 per path, flagged P,P,F per triple;
    each joined event keeps the first part's timestamp and the parts
    concatenate in line order — incl. the dangling trailing partial
    run when the table size isn't a multiple of 21."""
    from .functions.parsers import parse_container
    ev = _t(spark, sf_dir, "events")
    line_no = F.col("event_id") % 21
    tag = F.when(line_no % 3 < 2, "P").otherwise("F")
    line = F.concat(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit(" stdout "),
        tag, F.lit(" m"), F.col("event_id").cast("string"))
    df = ev.select(
        F.concat(F.lit("p"), F.floor(F.col("event_id") / 21)
                 .cast("long").cast("string")).alias("path"),
        line_no.alias("line_no"),
        line.alias("message"))
    return parse_container(df).select(
        "path", "line_no", "message", "container_stream",
        "container_time")


# =====================================================================
# the flagship pipeline (parse → enrich → route) over derived pages
# =====================================================================

_LEVELS = ["info", "warn", "error", "debug"]


def pages_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministically derive the Common-Crawl-style pages table
    (url, warc_ts, html, text, lang — BASELINE.json input_hint) from
    the shipped documents table: each page embeds two dissectable events
    with continuation lines; doc_id % 50 == 0 corrupts the second."""
    i = F.col("doc_id")
    host = F.concat(F.col("source"), F.lit(".example.org"))
    ts = F.timestamp_seconds(F.lit(1704067200) + i * 7)
    ts_str = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    level = F.element_at(F.array(*[F.lit(x) for x in _LEVELS]),
                         (i % 4).cast("int") + 1)
    nbytes = (i * 37) % 100000
    line1 = F.concat(
        F.lit("ts="), ts_str, F.lit(" level="), level,
        F.lit(" host="), host, F.lit(" bytes="), nbytes.cast("string"),
        F.lit(" msg=\"doc "), i.cast("string"), F.lit(" fetched\""))
    line2_ok = F.concat(
        F.lit("ts="), ts_str, F.lit(" level="), level,
        F.lit(" host="), host, F.lit(" bytes="),
        (nbytes / 2).cast("long").cast("string"),
        F.lit(" msg=\"doc "), i.cast("string"), F.lit(" rendered\""))
    line2 = F.when(i % 50 == 0,
                   F.lit("!!corrupt line with no key=value shape")) \
             .otherwise(line2_ok)
    text = F.concat_ws("\n", line1, F.lit("  at fetch.go:10"),
                       line2, F.lit("  at render.go:99"))
    return docs.select(
        F.concat(F.lit("https://"), host, F.lit("/doc/"),
                 i.cast("string")).alias("url"),
        ts.alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        text.alias("text"),
        F.col("lang").alias("lang"))


def _flagship_lookups(spark: SparkSession, docs: DataFrame):
    host_meta = (docs.select(
        F.concat(F.col("source"), F.lit(".example.org")).alias("host"))
        .distinct()
        .select("host",
                F.upper(F.substring("host", 1, 2)).alias("geo_country"),
                F.concat(F.lit("city-"), F.col("host")).alias("geo_city"),
                F.abs(F.xxhash64("host") % 64000).alias("asn"),
                F.lit("203.0.113.7").alias("resolved_ip"),
                F.lit("example.org").alias("registered_domain")))
    return host_meta, fixtures.lang_meta(spark)


@query("flagship_routed_counts", oracle="""
WITH d AS (SELECT doc_id, lang FROM documents),
e AS (SELECT doc_id, lang, 0 AS corrupt FROM d
      UNION ALL
      SELECT doc_id, lang, CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END
      FROM d)
SELECT CASE WHEN corrupt = 1 THEN 'sink_deadletter'
            WHEN lang IN ('fr', 'es', 'zh') THEN 'sink_ls'
            ELSE 'sink_es' END AS sink,
       count(*) AS n
FROM e GROUP BY sink
""")
def flagship_routed_counts(spark, sf_dir):
    """End-to-end north_star pipeline: pages → multiline+dissect parse
    → broadcast enrich → outil route; per-sink counts must equal the
    first-principles oracle (the north_rule count-parity bar)."""
    from .pipeline import build_routed
    docs = _t(spark, sf_dir, "documents")
    pages = pages_from_documents(docs)
    host_meta, lang_meta = _flagship_lookups(spark, docs)
    routed = build_routed(pages, host_meta, lang_meta)
    return routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n"))


@query("flagship_messages", oracle="""
WITH base AS (
  SELECT doc_id, lang, source,
         strftime(make_timestamp((1704067200 + doc_id * 7) * 1000000),
                  '%Y-%m-%dT%H:%M:%SZ') AS ts_str,
         (['info','warn','error','debug'])[CAST(doc_id % 4 AS INT) + 1]
           AS level,
         (doc_id * 37) % 100000 AS nbytes,
         source || '.example.org' AS host
  FROM documents),
ev AS (
  SELECT 'https://' || host || '/doc/' || CAST(doc_id AS VARCHAR) AS url,
         0 AS msg_idx,
         'ts=' || ts_str || ' level=' || level || ' host=' || host
         || ' bytes=' || CAST(nbytes AS VARCHAR)
         || ' msg="doc ' || CAST(doc_id AS VARCHAR) || ' fetched"'
         || chr(10) || '  at fetch.go:10' AS message
  FROM base
  UNION ALL
  SELECT 'https://' || host || '/doc/' || CAST(doc_id AS VARCHAR),
         1,
         CASE WHEN doc_id % 50 = 0
              THEN '!!corrupt line with no key=value shape'
              ELSE 'ts=' || ts_str || ' level=' || level || ' host='
                   || host || ' bytes='
                   || CAST(CAST(trunc(nbytes / 2) AS BIGINT) AS VARCHAR)
                   || ' msg="doc ' || CAST(doc_id AS VARCHAR)
                   || ' rendered"' END
         || chr(10) || '  at render.go:99'
  FROM base)
SELECT url, msg_idx, message FROM ev
""")
def flagship_messages(spark, sf_dir):
    """THE byte-identity bar (north_rule / input_hint): per-url
    extracted event text out of the full multiline+dissect pipeline
    must equal, byte for byte, a first-principles reconstruction."""
    from .pipeline import build_routed
    docs = _t(spark, sf_dir, "documents")
    pages = pages_from_documents(docs)
    host_meta, lang_meta = _flagship_lookups(spark, docs)
    routed = build_routed(pages, host_meta, lang_meta)
    return routed.select("url", "msg_idx", "message")


# =====================================================================
# §2.3–2.5 coverage sweep: composite chains giving every remaining
# field-shape / parse / decode / enrich operator an exact oracle entry
# =====================================================================

@query("processor_chain2", oracle="""
SELECT p_partkey,
  CASE WHEN length(p_name) > 20 THEN substr(p_name, 1, 20)
       ELSE p_name END AS name_trunc,
  lower(p_type) AS type_lc,
  upper(p_brand) AS brand_uc,
  p_retailprice AS price_copy,
  p_size AS size_r,
  upper(p_brand) || ',x' AS notes_joined,
  'q=' || p_brand || ' x' AS dec,
  CAST((p_partkey % 5) * 3600 + (p_partkey % 60) * 60 AS DOUBLE)
    AS dur_seconds,
  CASE CAST(p_partkey % 6 AS INT)
       WHEN 0 THEN 'application/json'
       WHEN 1 THEN 'text/html; charset=utf-8'
       WHEN 2 THEN 'image/png'
       WHEN 3 THEN 'application/gzip'
       WHEN 4 THEN 'application/vnd.microsoft.portable-executable'
       ELSE 'text/plain; charset=utf-8' END AS mime,
  length(p_name) > 20 AS truncated,
  '+00:00' AS event_timezone,
  'logs-pages-default' AS ds_index
FROM part
""")
def processor_chain2(spark, sf_dir):
    """Second composite chain: truncate_fields → lowercase → uppercase
    → copy_fields → rename → append → urldecode → decode_duration →
    detect_mime_type (string + real magic bytes) → add_locale →
    add_data_stream — each §2.3/2.4 operator that previously had only
    pytest coverage, now under the exact oracle."""
    part = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    df = part.select(
        "p_partkey", "p_name", "p_type", "p_brand", "p_retailprice",
        "p_size",
        F.concat(F.lit("q%3D"), F.col("p_brand"),
                 F.lit("%20x")).alias("enc"),
        F.concat((k % 5).cast("string"), F.lit("h"),
                 (k % 60).cast("string"), F.lit("m")).alias("dur"),
        F.when(k % 6 == 0, F.encode(F.lit('{"a": 1}'), "utf-8"))
         .when(k % 6 == 1,
               F.encode(F.lit("<html><body>x</body></html>"), "utf-8"))
         .when(k % 6 == 2,
               F.unhex(F.lit("89504E470D0A1A0A0000000D49484452")))
         .when(k % 6 == 3, F.unhex(F.lit("1F8B08000000000000FF")))
         .when(k % 6 == 4, F.unhex(F.lit("4D5A90000300000004000000FFFF")))
         .otherwise(F.encode(F.lit("Hello world!"), "utf-8"))
         .alias("blob"))
    chain = compile_processors([
        {"truncate_fields": {"fields": ["p_name"],
                             "max_characters": 20}},
        {"lowercase": {"fields": ["p_type"]}},
        {"uppercase": {"fields": ["p_brand"]}},
        {"copy_fields": {"fields": [{"from": "p_retailprice",
                                     "to": "price_copy"}]}},
        {"rename": {"fields": [{"from": "p_size", "to": "size_r"}]}},
        {"append": {"target_field": "notes", "fields": ["p_brand"],
                    "values": ["x"]}},
        {"urldecode": {"fields": [{"from": "enc", "to": "dec"}]}},
        {"decode_duration": {"field": "dur", "format": "seconds"}},
        {"detect_mime_type": {"field": "blob", "target": "mime"}},
        {"add_locale": {}},
        {"add_data_stream": {"dataset": "pages"}},
    ])
    out = chain(df)
    return out.select(
        "p_partkey",
        F.col("p_name").alias("name_trunc"),
        F.col("p_type").alias("type_lc"),
        F.col("p_brand").alias("brand_uc"),
        "price_copy",
        "size_r",
        F.array_join("notes", ",").alias("notes_joined"),
        "dec",
        F.col("dur").alias("dur_seconds"),
        "mime",
        F.array_contains(F.col("log_flags"), "truncated")
         .alias("truncated"),
        "event_timezone",
        F.col("meta_raw_index").alias("ds_index"))


_SEV_SQL = ("['Emergency','Alert','Critical','Error','Warning','Notice',"
            "'Informational','Debug']")

@query("syslog_3164", oracle=f"""
WITH e AS (
  SELECT event_id, ts, event_type,
         CAST(user_id % 192 AS INT) AS pri,
         CAST(user_id % 20 AS VARCHAR) AS hsuf,
         CAST(event_id % 7 AS VARCHAR) AS asuf,
         event_id % 997 AS pid
  FROM events)
SELECT event_id,
       'host' || hsuf AS hostname,
       'app' || asuf AS program,
       CAST(pid AS BIGINT) AS pid,
       pri % 8 AS severity_code,
       ({_SEV_SQL})[pri % 8 + 1] AS severity_name,
       pri // 8 AS facility_code,
       'evt ' || event_type AS content,
       date_trunc('second', ts) AS syslog_ts
FROM e
""")
def syslog_3164(spark, sf_dir):
    """RFC3164 through the auto-detect path (``reader/syslog/
    rfc3164_gen.go`` semantics: pri math, tag[pid], year inference
    from a reference timestamp)."""
    ev = _t(spark, sf_dir, "events")
    pri = (F.col("user_id") % 192).cast("int")
    tsstr = F.date_format("ts", "MMM dd HH:mm:ss")
    line = F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">"), tsstr,
        F.lit(" host"), (F.col("user_id") % 20).cast("string"),
        F.lit(" app"), (F.col("event_id") % 7).cast("string"),
        F.lit("["), (F.col("event_id") % 997).cast("string"),
        F.lit("]: evt "), F.col("event_type"))
    df = ev.select("event_id", "ts", line.alias("message"))
    chain = compile_processors([
        {"syslog": {"field": "message", "format": "auto",
                    "year_from": "ts"}}])
    return chain(df).select(
        "event_id",
        F.col("syslog_hostname").alias("hostname"),
        F.col("syslog_program").alias("program"),
        F.col("syslog_pid").alias("pid"),
        F.col("log_syslog_severity_code").alias("severity_code"),
        F.col("log_syslog_severity_name").alias("severity_name"),
        F.col("log_syslog_facility_code").alias("facility_code"),
        F.col("syslog_message").alias("content"),
        "syslog_ts")


@query("decode_xml_map", oracle="""
SELECT event_id, event_type AS etype,
       CAST(user_id AS VARCHAR) AS euser
FROM events
""")
def decode_xml_map(spark, sf_dir):
    """decode_xml (schemaless → dot-path map, Arrow kernel,
    ``decode_xml/decode_xml.go:88``) — round-trip oracle: the XML is
    built from table columns, so decoding must give them back."""
    ev = _t(spark, sf_dir, "events")
    xml = F.concat(
        F.lit('<ev type="'), F.col("event_type"), F.lit('"><user>'),
        F.col("user_id").cast("string"), F.lit("</user></ev>"))
    df = ev.select("event_id", xml.alias("xml"))
    chain = compile_processors([
        {"decode_xml": {"field": "xml", "target_field": "xm"}}])
    return chain(df).select(
        "event_id",
        F.element_at("xm", "ev.type").alias("etype"),
        F.element_at("xm", "ev.user").alias("euser"))


@query("useragent_parse", oracle="""
WITH ua AS (SELECT event_id % 7 AS t, user_id FROM events),
parsed AS (
  SELECT CASE t WHEN 0 THEN 'Chrome' WHEN 1 THEN 'Safari'
                WHEN 2 THEN 'Firefox' WHEN 3 THEN 'Edge'
                WHEN 4 THEN 'Chrome' WHEN 5 THEN 'Googlebot'
                ELSE 'curl' END AS name,
         CASE t WHEN 0 THEN 'Windows' WHEN 1 THEN 'macOS'
                WHEN 2 THEN 'Linux' WHEN 3 THEN 'Windows'
                WHEN 4 THEN 'Android' ELSE 'Other' END AS os_name,
         CASE WHEN t = 5 THEN 'bot' WHEN t = 4 THEN 'mobile'
              ELSE 'desktop' END AS device,
         CASE t WHEN 0 THEN '1' || CAST(user_id % 20 AS VARCHAR)
                            || '.0.0.0'
                WHEN 1 THEN '17.' || CAST(user_id % 10 AS VARCHAR)
                WHEN 2 THEN '10' || CAST(user_id % 10 AS VARCHAR)
                            || '.0'
                WHEN 3 THEN '120.0.' || CAST(user_id % 100 AS VARCHAR)
                            || '.0'
                WHEN 4 THEN '121.0.0.0'
                WHEN 5 THEN '2.1'
                ELSE '8.' || CAST(user_id % 10 AS VARCHAR) || '.0'
           END AS version
  FROM ua)
SELECT name, os_name, device, count(*) AS n,
       count(DISTINCT version) AS n_versions
FROM parsed GROUP BY 1, 2, 3
""")
def useragent_parse_q(spark, sf_dir):
    """``user_agent`` processor (processors/misc.py — ES-ingest-style
    companion to the nginx/apache module surface; libbeat ships none):
    seven realistic UA families synthesized per event — Chrome/
    Safari/Firefox/Edge/Android-mobile/Googlebot/curl with versions
    derived from user_id — parsed by the pure-codegen first-match
    chain (Edge before Chrome, Version/ for Safari, bot detection
    before device class), then rolled up by (browser, os, device).
    The oracle derives the expected browser/os/device/version for
    each family from the construction, so every precedence rule is
    value-checked."""
    ev = _t(spark, sf_dir, "events")
    uid, t = F.col("user_id"), F.col("event_id") % 7
    ua = (F.when(t == 0, F.concat(
              F.lit("Mozilla/5.0 (Windows NT 10.0; Win64; x64) "
                    "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/1"),
              (uid % 20).cast("string"), F.lit(".0.0.0 Safari/537.36")))
          .when(t == 1, F.concat(
              F.lit("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) "
                    "AppleWebKit/605.1.15 (KHTML, like Gecko) "
                    "Version/17."),
              (uid % 10).cast("string"), F.lit(" Safari/605.1.15")))
          .when(t == 2, F.concat(
              F.lit("Mozilla/5.0 (X11; Linux x86_64; rv:10"),
              (uid % 10).cast("string"),
              F.lit(".0) Gecko/20100101 Firefox/10"),
              (uid % 10).cast("string"), F.lit(".0")))
          .when(t == 3, F.concat(
              F.lit("Mozilla/5.0 (Windows NT 10.0; Win64; x64) "
                    "AppleWebKit/537.36 (KHTML, like Gecko) "
                    "Chrome/120.0.0.0 Safari/537.36 Edg/120.0."),
              (uid % 100).cast("string"), F.lit(".0")))
          .when(t == 4, F.lit(
              "Mozilla/5.0 (Linux; Android 14; Pixel 8) "
              "AppleWebKit/537.36 (KHTML, like Gecko) "
              "Chrome/121.0.0.0 Mobile Safari/537.36"))
          .when(t == 5, F.lit(
              "Mozilla/5.0 (compatible; Googlebot/2.1; "
              "+http://www.google.com/bot.html)"))
          .otherwise(F.concat(F.lit("curl/8."),
                              (uid % 10).cast("string"), F.lit(".0"))))
    chain = compile_processors([{"user_agent": {"field": "agent"}}])
    df = chain(ev.select(ua.alias("agent")))
    return (df.groupBy(F.col("ua_name").alias("name"),
                       F.col("ua_os_name").alias("os_name"),
                       F.col("ua_device").alias("device"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count_distinct("ua_version").alias("n_versions")))


@query("network_direction", oracle="""
WITH d AS (
  SELECT CASE WHEN user_id % 2 = 0 AND user_id % 3 = 0 THEN 'internal'
              WHEN user_id % 2 = 0 THEN 'outbound'
              WHEN user_id % 3 = 0 THEN 'inbound'
              ELSE 'external' END AS direction
  FROM events)
SELECT direction, count(*) AS n FROM d GROUP BY direction
""")
def network_direction(spark, sf_dir):
    """add_network_direction (``add_network_direction.go:65``):
    internal-CIDR membership of src/dst, pure mask arithmetic."""
    ev = _t(spark, sf_dir, "events")
    oct_ = (F.col("event_id") % 200).cast("string")
    src = (F.when(F.col("user_id") % 2 == 0,
                  F.concat(F.lit("10.1.2."), oct_))
            .otherwise(F.concat(F.lit("8.8.8."), oct_)))
    dst = (F.when(F.col("user_id") % 3 == 0,
                  F.concat(F.lit("10.9.9."), oct_))
            .otherwise(F.concat(F.lit("1.1.1."), oct_)))
    df = ev.select(src.alias("source_ip"), dst.alias("destination_ip"))
    chain = compile_processors([
        {"add_network_direction":
             {"internal_networks": ["10.0.0.0/8"]}}])
    return (chain(df).groupBy(F.col("network_direction")
                              .alias("direction"))
            .agg(F.count(F.lit(1)).alias("n")))


@query("multiline_count", oracle="""
WITH e AS (SELECT event_id, event_type AS t FROM events)
SELECT event_id, 0 AS idx,
       'a 1-' || t || chr(10) || 'a 2-' || t AS message FROM e
UNION ALL
SELECT event_id, 1 AS idx,
       'a 3-' || t || chr(10) || 'a 4-' || t AS message FROM e
""")
def multiline_count(spark, sf_dir):
    """multiline mode=count (``reader/multiline/counter.go``): join
    every N lines into one message."""
    ev = _t(spark, sf_dir, "events")
    t = F.col("event_type")
    text = F.concat(
        F.lit("a 1-"), t, F.lit("\n"), F.lit("a 2-"), t, F.lit("\n"),
        F.lit("a 3-"), t, F.lit("\n"), F.lit("a 4-"), t)
    df = ev.select(
        "event_id",
        multiline_join_col(text, mode="count", count_lines=2)
        .alias("msgs"))
    return df.select(
        "event_id",
        F.posexplode("msgs").alias("idx", "message"))


@query("multiline_while", oracle="""
WITH e AS (SELECT event_id, event_type AS t FROM events)
SELECT event_id, 0 AS idx,
       'x 1-' || t || chr(10) || 'x 2-' || t AS message FROM e
UNION ALL
SELECT event_id, 1 AS idx, 'y 3-' || t AS message FROM e
UNION ALL
SELECT event_id, 2 AS idx, 'x 4-' || t AS message FROM e
""")
def multiline_while(spark, sf_dir):
    """multiline mode=while_pattern (``reader/multiline/
    pattern.go`` while mode): contiguous matching lines join, a
    non-matching line flushes and stands alone."""
    ev = _t(spark, sf_dir, "events")
    t = F.col("event_type")
    text = F.concat(
        F.lit("x 1-"), t, F.lit("\n"), F.lit("x 2-"), t, F.lit("\n"),
        F.lit("y 3-"), t, F.lit("\n"), F.lit("x 4-"), t)
    df = ev.select(
        "event_id",
        multiline_join_col(text, mode="while_pattern", pattern=r"^x ")
        .alias("msgs"))
    return df.select(
        "event_id",
        F.posexplode("msgs").alias("idx", "message"))


@query("reader_chain", oracle="""
WITH m AS (
  SELECT event_id,
         event_type || repeat('!', CAST(event_id % 30 AS INT)) AS msg
  FROM events
  WHERE event_type LIKE 'click%' OR event_type LIKE 'view%')
SELECT event_id,
       CASE WHEN length(msg) > 12 THEN substr(msg, 1, 12)
            ELSE msg END AS message,
       length(msg) > 12 AS truncated
FROM m
""")
def reader_chain(spark, sf_dir):
    """Reader-stack tail: strip_newline → include_lines →
    limit_message (byte budget + truncated flag) — the harvester line
    post-processing (``readfile/strip_newline.go``, ``limit.go``,
    include_lines from ``filestream/prospector config``)."""
    from .functions.readers import (include_lines, limit_message,
                                    strip_newline)
    ev = _t(spark, sf_dir, "events")
    raw = F.concat(
        F.col("event_type"),
        F.repeat(F.lit("!"), (F.col("event_id") % 30).cast("int")),
        F.lit("\r\n"))
    df = ev.select("event_id", strip_newline(raw).alias("message"))
    df = include_lines(df, "message", [r"^(click|view)"])
    df = limit_message(df, "message", max_bytes=12)
    return df.select(
        "event_id", "message",
        F.array_contains("log_flags", "truncated").alias("truncated"))


@query("enrich_cache_translate", oracle="""
WITH last AS (
  SELECT user_id, event_type AS last_evt
  FROM (SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_type DESC)
                 AS rn
        FROM events) t
  WHERE rn = 1)
SELECT c.c_custkey, n.n_name AS nation_name, last.last_evt AS last_evt
FROM customer c
LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
LEFT JOIN last ON last.user_id = c.c_custkey % 150
""")
def enrich_cache_translate(spark, sf_dir):
    """translate_sid-style broadcast lookup (nation id → name,
    ``translate_sid/translatesid.go:75``) + the cache processor's
    put/get pair: ``build_cache_store`` (deterministic last-write-wins
    per key) then a broadcast get (``cache/cache.go:128``)."""
    from .processors.enrich import build_cache_store
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    ev = _t(spark, sf_dir, "events")
    store = build_cache_store(ev, "user_id", ["event_type"],
                              ts_field="ts")
    df = cust.withColumn("ukey", F.col("c_custkey") % 150)
    chain = compile_processors([
        {"translate_sid": {"lookup": nation, "field": "c_nationkey",
                           "lookup_key": "n_nationkey",
                           "fields": {"n_name": "nation_name"}}},
        {"cache": {"store": store,
                   "get": {"key_field": "ukey",
                           "target_field": "cached"}}},
    ])
    return chain(df).select(
        "c_custkey", "nation_name",
        F.col("cached_event_type").alias("last_evt"))


@query("timeseries_key", oracle="""
SELECT CAST(count(DISTINCT (user_id, event_type)) AS BIGINT)
         AS n_instances,
       count(*) AS n_rows
FROM events
""")
def timeseries_key(spark, sf_dir):
    """timeseries instance hash (``timeseries/timeseries.go:68``):
    the dimension hash must be injective over the observed dimension
    combinations — distinct instances == distinct dimension tuples."""
    ev = _t(spark, sf_dir, "events")
    chain = compile_processors([
        {"timeseries": {"fields": ["user_id", "event_type"]}}])
    return chain(ev).agg(
        F.countDistinct("timeseries_instance").alias("n_instances"),
        F.count(F.lit(1)).alias("n_rows"))


@query("yaml_pipeline", oracle="""
WITH base AS (
  SELECT event_id, ts, event_type,
         CASE WHEN value >= 150 THEN 'HIGH'
              WHEN value >= 50 THEN 'MID'
              ELSE 'LOW' END AS level
  FROM events),
kept AS (SELECT * FROM base WHERE level <> 'LOW')
SELECT CASE WHEN level = 'HIGH' THEN 'errors-' || event_type
            ELSE 'logs-' || event_type || '-' || strftime(ts, '%Y.%m.%d')
       END AS sink,
       count(*) AS n
FROM kept GROUP BY sink
""")
def yaml_pipeline(spark, sf_dir):
    """The YAML config front door (``beats_spark.config``): a
    filebeat.yml-shaped config — processors with nested ``when:``,
    ``output.elasticsearch`` index/indices selector with fmtstr dates
    — compiles to the same engine transforms and is oracle-checked
    end to end (the 'a reference user can carry their config over'
    surface)."""
    from .config import load_pipeline
    ev = _t(spark, sf_dir, "events")
    df = ev.select(
        "event_id", F.col("ts").alias("@timestamp"), "event_type",
        F.when(F.col("value") >= 150, "high")
         .when(F.col("value") >= 50, "mid")
         .otherwise("low").alias("level"))
    yml = """
processors:
  - uppercase:
      fields: [level]
  - drop_event:
      when:
        equals:
          level: "LOW"
output.elasticsearch:
  index: "logs-%{[event_type]}-%{+yyyy.MM.dd}"
  indices:
    - index: "errors-%{[event_type]}"
      when:
        equals:
          level: "HIGH"
"""
    pipe = load_pipeline(yml)
    return pipe(df).groupBy("sink").agg(F.count(F.lit(1)).alias("n"))


@query("yaml_inputs", oracle="""
WITH app AS (
  SELECT 'evt ' || event_type || ' u' || CAST(user_id AS VARCHAR) ||
         CASE WHEN event_id % 2 = 0
              THEN chr(10) || '  d' ||
                   repeat('x', CAST(event_id % 40 AS INT))
              ELSE '' END AS m
  FROM events WHERE event_id % 3 <> 0),
appt AS (
  SELECT CASE WHEN length(m) > 24 THEN substr(m, 1, 24) ELSE m END
           AS message,
         length(m) > 24 AS tr
  FROM app),
u AS (
  SELECT 'app-logs' AS sink, message, tr FROM appt
  UNION ALL
  SELECT 'sys-' || event_type AS sink, event_type AS message,
         FALSE AS tr
  FROM events WHERE event_id % 3 = 0)
SELECT sink, count(*) AS n,
       CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT) AS n_trunc,
       CAST(count(DISTINCT message) AS BIGINT) AS n_msgs
FROM u GROUP BY sink
""")
def yaml_inputs(spark, sf_dir):
    """The ``filebeat.inputs:`` section of the YAML front door
    (``filestream/config.go`` readerConfig →
    ``beats_spark.config.compile_input``): two inputs with different
    parser chains — app files get multiline + ``message_max_bytes``
    truncation + ``include_lines`` (which drops the noise event AFTER
    the parser chain, the reference's order, ``input.go:479-500`` then
    ``:770-784``); sys files get the ndjson parser with
    ``message_key`` — path-glob row selection, union, and the ES
    indices selector, all compiled from one filebeat.yml."""
    from .config import load_pipeline
    ev = _t(spark, sf_dir, "events")
    i, etype, uid = F.col("event_id"), F.col("event_type"), F.col("user_id")
    app_lines = F.array_remove(F.array(
        F.concat(F.lit("evt "), etype, F.lit(" u"), uid.cast("string")),
        F.when(i % 2 == 0,
               F.concat(F.lit("  d"),
                        F.repeat(F.lit("x"), (i % 40).cast("int"))))
         .otherwise(F.lit("")),
        F.concat(F.lit("noise "), etype)), "")
    sys_lines = F.array(F.concat(
        F.lit('{"lvl":"'), etype, F.lit('","n":"'),
        uid.cast("string"), F.lit('"}')))
    path = F.when(i % 3 == 0,
                  F.concat(F.lit("sys/"), i.cast("string"), F.lit(".log"))) \
            .otherwise(
                  F.concat(F.lit("app/"), i.cast("string"), F.lit(".log")))
    df = ev.select(
        path.alias("path"),
        F.posexplode(F.when(i % 3 == 0, sys_lines).otherwise(app_lines))
         .alias("line_no", "message"))
    yml = """
filebeat.inputs:
  - type: filestream
    id: app
    paths: ["app/*.log"]
    message_max_bytes: 24
    include_lines: ['^evt']
    parsers:
      - multiline:
          pattern: '^\\s'
          negate: false
          match: after
  - type: filestream
    id: sys
    paths: ["sys/*.log"]
    parsers:
      - ndjson:
          schema: "lvl string, n string"
          message_key: lvl
output.elasticsearch:
  index: "app-logs"
  indices:
    - index: "sys-%{[lvl]}"
      when:
        has_fields: [lvl]
"""
    pipe = load_pipeline(yml)
    routed = pipe(df)
    return (routed.groupBy("sink")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.when(F.array_contains("log_flags", "truncated"),
                              1).otherwise(0)).cast("bigint")
                  .alias("n_trunc"),
                 F.countDistinct("message").alias("n_msgs")))


@query("community_id_flows")  # rows-only: DuckDB ships no sha1()
def community_id_flows(spark, sf_dir):
    """Community ID v1 flow hash (``communityid/communityid.go:90``),
    JVM-side sha1 over packed big-endian tuples. No DuckDB oracle —
    this build has no sha1() — so the query self-checks the algebraic
    property instead: the hash is direction-independent (id computed
    on the reversed flow is identical), and distinct flows stay
    distinct. Value-level parity is pytest-covered against the spec
    vectors (tests/test_misc_processors.py)."""
    from .processors.misc import community_id_col
    ev = _t(spark, sf_dir, "events")
    oct_ = (F.col("event_id") % 200).cast("string")
    src = F.concat(F.lit("10.0.0."), oct_)
    dst = F.concat(F.lit("10.1.1."), (F.col("user_id") % 200)
                   .cast("string"))
    sport = (F.col("event_id") % 40000 + 1024).cast("int")
    dport = F.lit(443).cast("int")
    proto = F.lit("tcp")
    fwd = community_id_col(src, sport, dst, dport, proto)
    rev = community_id_col(dst, dport, src, sport, proto)
    return (ev.select(fwd.alias("cid"), rev.alias("cid_rev"),
                      src.alias("s"), dst.alias("d"),
                      sport.alias("sp"))
              .agg(F.count(F.lit(1)).alias("n_rows"),
                   F.sum(F.when(F.col("cid") == F.col("cid_rev"), 1)
                         .otherwise(0)).cast("bigint")
                    .alias("n_symmetric"),
                   F.countDistinct("cid").alias("n_distinct_ids"),
                   F.countDistinct("s", "d", "sp")
                    .alias("n_distinct_flows")))


@query("community_id_md5", oracle="""
WITH f AS (
  SELECT '10.0.0.' || (event_id % 200) AS src,
         '10.1.1.' || (user_id % 200) AS dst,
         CAST(event_id % 40000 + 1024 AS BIGINT) AS sp,
         CAST(443 AS BIGINT) AS dp
  FROM events),
n AS (SELECT dst, sp, dp,
    split_part(src,'.',1)::BIGINT*16777216
      + split_part(src,'.',2)::BIGINT*65536
      + split_part(src,'.',3)::BIGINT*256
      + split_part(src,'.',4)::BIGINT AS s_l,
    split_part(dst,'.',1)::BIGINT*16777216
      + split_part(dst,'.',2)::BIGINT*65536
      + split_part(dst,'.',3)::BIGINT*256
      + split_part(dst,'.',4)::BIGINT AS d_l
  FROM f),
o AS (SELECT dst,
    CASE WHEN s_l > d_l OR (s_l = d_l AND sp > dp)
         THEN d_l ELSE s_l END AS ip1,
    CASE WHEN s_l > d_l OR (s_l = d_l AND sp > dp)
         THEN s_l ELSE d_l END AS ip2,
    CASE WHEN s_l > d_l OR (s_l = d_l AND sp > dp)
         THEN dp ELSE sp END AS p1,
    CASE WHEN s_l > d_l OR (s_l = d_l AND sp > dp)
         THEN sp ELSE dp END AS p2
  FROM n),
h AS (SELECT dst, '1m:' || to_base64(unhex(md5(
    '0000' || lpad(to_hex(ip1),8,'0') || lpad(to_hex(ip2),8,'0')
    || '06' || '00' || lpad(to_hex(p1),4,'0')
    || lpad(to_hex(p2),4,'0')))) AS cid
  FROM o)
SELECT dst, min(cid) AS cid_min, max(cid) AS cid_max,
       CAST(count(DISTINCT cid) AS BIGINT) AS n_ids
FROM h GROUP BY dst
""")
def community_id_md5_q(spark, sf_dir):
    """Oracle-exact md5 twin of the Community ID flow hash
    (:func:`beats_spark.processors.misc.community_id_md5_col`;
    layout per ``communityid/communityid.go:90``): DuckDB ships no
    sha1, so this variant hashes the identical endpoint-ordered byte
    layout (as uppercase hex) with md5 — the oracle recomputes the
    whole pipeline including base64, making the flow-hash family
    value-checked end to end (the sha1 form stays spec-vector-tested
    in pytest). Grouped per destination so the compare covers actual
    hash strings (min/max) at bounded output size. Zero UDF."""
    from .processors.misc import community_id_md5_col
    ev = _t(spark, sf_dir, "events")
    oct_ = (F.col("event_id") % 200).cast("string")
    src = F.concat(F.lit("10.0.0."), oct_)
    dst = F.concat(F.lit("10.1.1."), (F.col("user_id") % 200)
                   .cast("string"))
    sport = (F.col("event_id") % 40000 + 1024).cast("int")
    dport = F.lit(443).cast("int")
    cid = community_id_md5_col(src, sport, dst, dport, F.lit("tcp"))
    return (ev.select(dst.alias("dst"), cid.alias("cid"))
              .groupBy("dst")
              .agg(F.min("cid").alias("cid_min"),
                   F.max("cid").alias("cid_max"),
                   F.countDistinct("cid").alias("n_ids")))


@query("vpcflow_parse", oracle="""
WITH wire AS (
  SELECT event_id,
         CASE WHEN event_id % 13 = 0 THEN 'notanip'
              ELSE '10.0.' || (event_id % 4) || '.'
                   || (user_id % 200) END AS src,
         '10.1.0.' || (user_id % 100) AS dst,
         CASE WHEN event_id % 11 = 0 THEN '-'
              ELSE CAST(event_id % 40000 + 1024 AS VARCHAR) END AS sp,
         CASE WHEN event_id % 4 = 0 THEN 6 WHEN event_id % 4 = 1
              THEN 17 WHEN event_id % 4 = 2 THEN 1
              ELSE 132 END AS proto,
         CASE WHEN event_id % 3 = 0 THEN 'ACCEPT'
              WHEN event_id % 3 = 1 THEN 'REJECT'
              ELSE '-' END AS act,
         epoch_us(ts) // 1000000 AS st,
         epoch_us(ts) // 1000000 + event_id % 600 AS en
  FROM events),
parsed AS (
  SELECT event_id, src <> 'notanip' AS ok, src, dst, sp, proto, act,
         st, en
  FROM wire)
SELECT event_id,
  CASE WHEN ok THEN src END AS source_ip,
  CASE WHEN ok THEN CAST(443 AS INT) END AS destination_port,
  CASE WHEN ok AND sp <> '-'
       THEN CAST(sp AS INT) END AS source_port,
  CASE WHEN ok THEN CAST(proto AS VARCHAR) END AS network_iana_number,
  CASE WHEN ok THEN CASE proto WHEN 6 THEN 'tcp' WHEN 17 THEN 'udp'
       WHEN 1 THEN 'icmp' ELSE 'sctp' END END AS network_transport,
  CASE WHEN ok AND act = 'ACCEPT' THEN 'success'
       WHEN ok AND act = 'REJECT' THEN 'failure' END AS event_outcome,
  CASE WHEN ok AND act <> '-' THEN lower(act) END AS event_action,
  CASE WHEN ok THEN
    CASE act WHEN 'ACCEPT' THEN 'connection|allowed'
             WHEN 'REJECT' THEN 'connection|denied'
             ELSE 'connection' END END AS ev_types,
  CASE WHEN ok THEN make_timestamp(en * 1000000) END AS ev_end,
  CASE WHEN NOT ok
       THEN 'log did not match the specified format' END AS err
FROM parsed
""")
def vpcflow_parse_q(spark, sf_dir):
    """AWS VPC Flow Log parse (x-pack
    ``aws_vpcflow/parse_aws_vpc_flow_log.go`` via
    :func:`beats_spark.functions.vpcflow.vpc_flow_columns`): flow-log
    lines synthesized from events — with ``-`` placeholders, an
    ACCEPT/REJECT/- action mix, all four transport protocols, and an
    invalid-IP row class exercising the error contract — parsed in
    ecs mode. The oracle recomputes every ECS mapping (iana number,
    transport name, outcome/action/type transforms, epoch-second
    timestamps, NULL-on-error) from the same construction. Pure
    codegen: zero Python, zero shuffle."""
    from .functions.vpcflow import vpc_flow_columns
    ev = _t(spark, sf_dir, "events")
    fmt = ("version srcaddr dstaddr srcport dstport protocol "
           "packets bytes start end action log-status")
    src = F.when(F.col("event_id") % 13 == 0, F.lit("notanip")) \
        .otherwise(F.concat(F.lit("10.0."),
                            (F.col("event_id") % 4).cast("string"),
                            F.lit("."),
                            (F.col("user_id") % 200).cast("string")))
    sp = F.when(F.col("event_id") % 11 == 0, F.lit("-")) \
        .otherwise((F.col("event_id") % 40000 + 1024).cast("string"))
    proto = F.when(F.col("event_id") % 4 == 0, 6) \
        .when(F.col("event_id") % 4 == 1, 17) \
        .when(F.col("event_id") % 4 == 2, 1).otherwise(132)
    act = F.when(F.col("event_id") % 3 == 0, "ACCEPT") \
        .when(F.col("event_id") % 3 == 1, "REJECT").otherwise("-")
    st = (F.unix_micros(F.col("ts").cast("timestamp"))
          / 1_000_000).cast("long")
    line = F.concat_ws(
        " ", F.lit("2"), src,
        F.concat(F.lit("10.1.0."), (F.col("user_id") % 100)
                 .cast("string")),
        sp, F.lit("443"), proto.cast("string"), F.lit("10"),
        F.lit("840"), st.cast("string"),
        (st + F.col("event_id") % 600).cast("string"), act,
        F.lit("OK"))
    wire = ev.select("event_id", line.alias("message"))
    cols = vpc_flow_columns(F.col("message"), fmt, mode="ecs")
    return wire.select(
        "event_id",
        cols["source_ip"].alias("source_ip"),
        cols["destination_port"].alias("destination_port"),
        cols["source_port"].alias("source_port"),
        cols["network_iana_number"].alias("network_iana_number"),
        cols["network_transport"].alias("network_transport"),
        cols["event_outcome"].alias("event_outcome"),
        cols["event_action"].alias("event_action"),
        F.array_join(cols["event_type"], "|").alias("ev_types"),
        cols["event_end"].alias("ev_end"),
        cols["error_message"].alias("err"))


@query("winlog_export", oracle="""
SELECT event_id,
  'Security' AS channel,
  CAST(4624 + event_id % 5 AS VARCHAR) AS win_event_id,
  'Microsoft-Windows-Security-Auditing' AS provider,
  CAST(event_id AS BIGINT) AS record_id,
  CASE event_id % 6 WHEN 0 THEN 'information' WHEN 1 THEN 'critical'
    WHEN 2 THEN 'error' WHEN 3 THEN 'warning'
    WHEN 4 THEN 'information' WHEN 5 THEN 'verbose' END AS level,
  CASE event_id % 10 WHEN 0 THEN 'Info' WHEN 1 THEN 'Start'
    WHEN 2 THEN 'Stop' WHEN 3 THEN 'DCStart' WHEN 4 THEN 'DCStop'
    WHEN 5 THEN 'Extension' WHEN 6 THEN 'Reply' WHEN 7 THEN 'Resume'
    WHEN 8 THEN 'Suspend' WHEN 9 THEN 'Send' END AS opcode,
  CASE event_id % 3 WHEN 0 THEN 'failure' WHEN 1 THEN 'success'
    END AS outcome,
  date_trunc('second', ts) AS time_created,
  CAST(user_id % 30000 AS INT) AS pid,
  'user' || CAST(user_id AS VARCHAR) AS logon_user,
  CAST(2 AS INT) AS n_data
FROM events
""")
def winlog_export_q(spark, sf_dir):
    """Windows Event Log input (winlogbeat
    ``sys/winevent/event.go:91-152`` Fields() composition via
    :func:`beats_spark.functions.winlog.winlog_events`): exported
    Event XML records synthesized from events — exercising the
    winmeta level/opcode fallback tables (``winmeta.go:29-63``), the
    keyword-bit audit outcome (failure/success/neither), timestamp
    parse, Execution/EventData extraction — parsed by ONE from_xml
    parse per record (struct accessors after it; the per-field xpath
    spelling re-parsed the document ~20x and cost 212 s at sf0.1);
    the oracle inverts the construction, the same discipline as
    journald_export. Zero Python, zero shuffle."""
    from .functions.winlog import winlog_events
    ev = _t(spark, sf_dir, "events")
    kw = F.when(F.col("event_id") % 3 == 0,
                F.lit("0x10000000000000")) \
        .when(F.col("event_id") % 3 == 1, F.lit("0x20000000000000")) \
        .otherwise(F.lit("0x80000000000000"))
    tstr = F.date_format(F.col("ts").cast("timestamp"),
                         "yyyy-MM-dd'T'HH:mm:ss'Z'")
    xml = F.concat(
        F.lit('<Event xmlns="http://schemas.microsoft.com/win/2004/'
              '08/events/event"><System><Provider '
              'Name="Microsoft-Windows-Security-Auditing"/>'
              '<EventID>'),
        (4624 + F.col("event_id") % 5).cast("string"),
        F.lit("</EventID><Level>"),
        (F.col("event_id") % 6).cast("string"),
        F.lit("</Level><Opcode>"),
        (F.col("event_id") % 10).cast("string"),
        F.lit("</Opcode><Task>0</Task><Keywords>"), kw,
        F.lit('</Keywords><TimeCreated SystemTime="'), tstr,
        F.lit('"/><EventRecordID>'),
        F.col("event_id").cast("string"),
        F.lit('</EventRecordID><Execution ProcessID="'),
        (F.col("user_id") % 30000).cast("string"),
        F.lit('" ThreadID="4"/><Channel>Security</Channel>'
              "<Computer>host-a</Computer></System><EventData>"
              '<Data Name="TargetUserName">user'),
        F.col("user_id").cast("string"),
        F.lit('</Data><Data Name="LogonType">3</Data>'
              "</EventData></Event>"))
    parsed = winlog_events(ev.select("event_id", xml.alias("xml")))
    return parsed.select(
        "event_id",
        F.col("winlog_channel").alias("channel"),
        F.col("winlog_event_id").alias("win_event_id"),
        F.col("winlog_provider_name").alias("provider"),
        F.col("winlog_record_id").alias("record_id"),
        F.col("winlog_level").alias("level"),
        F.col("winlog_opcode").alias("opcode"),
        F.col("winlog_outcome").alias("outcome"),
        F.col("winlog_time_created").alias("time_created"),
        F.col("winlog_process_pid").alias("pid"),
        F.col("winlog_event_data").getItem("TargetUserName")
        .alias("logon_user"),
        F.size("winlog_event_data").alias("n_data"))


@query("redis_slowlog", oracle="""
WITH w AS (
  SELECT event_id AS slow_id,
         epoch_us(ts) // 1000000 AS ts_epoch,
         (event_id % 5000) * 10 + 50 AS duration_us,
         CASE WHEN event_id % 7 = 0 THEN ['ping']
              WHEN event_id % 7 = 1
                THEN ['get', 'k' || CAST(user_id AS VARCHAR)]
              ELSE ['setex', 'k' || CAST(user_id AS VARCHAR), '60',
                    'v' || CAST(event_id AS VARCHAR)] END AS args,
         CASE WHEN event_id % 2 = 0
              THEN '10.0.0.9:' || CAST(1024 + event_id % 100
                                       AS VARCHAR)
              ELSE '' END AS client_addr
  FROM events)
SELECT array_to_string(args, ' ') AS message,
       CAST(slow_id AS BIGINT) AS redis_slowlog_id,
       args[1] AS redis_slowlog_cmd,
       CASE WHEN len(args) > 1 THEN args[2] END AS redis_slowlog_key,
       CASE WHEN len(args) > 2
            THEN array_to_string(list_slice(args, 3, len(args)), ',')
            END AS tail_args,
       CAST(duration_us AS BIGINT) AS redis_slowlog_duration_us,
       'master' AS redis_slowlog_role,
       make_timestamp(ts_epoch * 1000000) AS event_time,
       CASE WHEN client_addr <> '' THEN client_addr END
           AS redis_slowlog_client_addr
FROM w
""")
def redis_slowlog_q(spark, sf_dir):
    """Redis slowlog input (``filebeat/input/redis/harvester.go:
    160-240`` via :func:`beats_spark.streaming.sources
    .redis_slowlog_events`): SLOWLOG GET entries synthesized from
    events — 1/2/4-arg command mixes exercising the cmd/key/args
    split boundaries, epoch-second timestamps, and the Redis-6-only
    client address presence rule. The oracle inverts the
    construction with DuckDB list functions. Pure codegen."""
    from .streaming.sources import redis_slowlog_events
    ev = _t(spark, sf_dir, "events")
    k = F.concat(F.lit("k"), F.col("user_id").cast("string"))
    args = F.when(F.col("event_id") % 7 == 0,
                  F.array(F.lit("ping"))) \
        .when(F.col("event_id") % 7 == 1,
              F.array(F.lit("get"), k)) \
        .otherwise(F.array(F.lit("setex"), k, F.lit("60"),
                           F.concat(F.lit("v"),
                                    F.col("event_id").cast("string"))))
    wire = ev.select(
        F.col("event_id").alias("slow_id"),
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long").alias("ts_epoch"),
        ((F.col("event_id") % 5000) * 10 + 50).alias("duration_us"),
        args.alias("args"),
        F.when(F.col("event_id") % 2 == 0,
               F.concat(F.lit("10.0.0.9:"),
                        (1024 + F.col("event_id") % 100)
                        .cast("string"))).otherwise(F.lit(""))
        .alias("client_addr"))
    out = redis_slowlog_events(wire, client_name_col=None)
    return out.select(
        "message", "redis_slowlog_id", "redis_slowlog_cmd",
        "redis_slowlog_key",
        F.array_join("redis_slowlog_args", ",").alias("tail_args"),
        "redis_slowlog_duration_us", "redis_slowlog_role",
        F.col("@timestamp").alias("event_time"),
        "redis_slowlog_client_addr")


@query("es_bulk", oracle="""
WITH w AS (
  SELECT event_id,
         'logs-' || event_type AS idx,
         CASE WHEN event_id % 4 = 0 THEN NULL
              ELSE 'doc' || CAST(event_id AS VARCHAR) END AS doc_id,
         CASE WHEN event_id % 5 = 0 THEN 'index'
              WHEN event_id % 5 = 1 THEN 'delete'
              ELSE 'create' END AS op,
         CASE WHEN event_id % 3 = 0 THEN 'geoip' END AS pipe,
         'm' || CAST(event_id AS VARCHAR) AS msg
  FROM events)
SELECT event_id, idx AS _index,
  CASE WHEN op = 'delete' AND doc_id IS NULL THEN NULL ELSE
    '{"' || op || '":{"_index":"' || idx || '"'
    || CASE WHEN doc_id IS NOT NULL
            THEN ',"_id":"' || doc_id || '"' ELSE '' END
    || CASE WHEN pipe IS NOT NULL
            THEN ',"pipeline":"' || pipe || '"' ELSE '' END
    || '}}' END AS bulk_action,
  CASE WHEN op = 'delete' THEN NULL ELSE
    '{"msg":"' || msg || '","n":'
    || CAST(event_id AS VARCHAR) || '}' END AS bulk_source,
  CASE WHEN op = 'delete' AND doc_id IS NULL
       THEN 'delete requires _id' END AS bulk_error
FROM w
""")
def es_bulk_q(spark, sf_dir):
    """Elasticsearch ``_bulk`` request encoding
    (:func:`beats_spark.sinks.es_bulk_shape`; reference
    ``outputs/elasticsearch/client.go:361-423``): a routed frame with
    a create/index/delete op mix, optional ids and ingest pipelines —
    the oracle rebuilds both JSON lines by string concatenation
    (values are escape-free by construction), covering omitempty
    field omission, the source-less delete, and the
    delete-without-id encode error. Pure codegen, zero shuffle."""
    from .sinks import es_bulk_shape
    ev = _t(spark, sf_dir, "events")
    w = ev.select(
        "event_id",
        F.concat(F.lit("logs-"), F.col("event_type")).alias("sink"),
        F.when(F.col("event_id") % 4 == 0, F.lit(None))
        .otherwise(F.concat(F.lit("doc"),
                            F.col("event_id").cast("string")))
        .alias("doc_id"),
        F.when(F.col("event_id") % 5 == 0, F.lit("index"))
        .when(F.col("event_id") % 5 == 1, F.lit("delete"))
        .otherwise(F.lit("create")).alias("op"),
        F.when(F.col("event_id") % 3 == 0, F.lit("geoip"))
        .alias("pipe"),
        F.concat(F.lit("m"), F.col("event_id").cast("string"))
        .alias("msg"),
        F.col("event_id").cast("int").alias("n"))
    return es_bulk_shape(
        w.withColumn("n", F.col("event_id").cast("int")),
        "sink", id_col="doc_id", op_col="op", pipeline_col="pipe",
        columns=["msg", "n"], keep=["event_id"])


@query("lumberjack_frames", oracle="""
WITH w AS (
  SELECT event_id // 64 AS batch,
         row_number() OVER (PARTITION BY event_id // 64
                            ORDER BY event_id) AS seq,
         'm' || CAST(event_id AS VARCHAR) AS msg
  FROM events),
data AS (
  SELECT batch, 'J' AS kind, CAST(seq AS BIGINT) AS seq,
    '324A' || lpad(to_hex(seq), 8, '0')
    || lpad(to_hex(10 + length(CAST(msg AS VARCHAR))), 8, '0')
    || to_hex(encode('{"msg":"' || msg || '"}')) AS frame_hex
  FROM w),
win AS (
  SELECT batch, 'W' AS kind, CAST(NULL AS BIGINT) AS seq,
         '3257' || lpad(to_hex(count(*)), 8, '0') AS frame_hex
  FROM w GROUP BY batch)
SELECT * FROM win UNION ALL SELECT * FROM data
""")
def lumberjack_frames_q(spark, sf_dir):
    """Lumberjack v2 wire framing
    (:func:`beats_spark.sinks.lumberjack_frames`; the logstash
    output's transport encoding — protocol via the go-lumber client
    ``outputs/logstash/sync.go:28`` links): events batched 64-wide
    get per-batch window frames ('2W' + BE count) and per-event JSON
    data frames ('2J' + BE seq + BE len + payload), hex-compared
    byte-for-byte against an oracle that rebuilds every frame with
    string arithmetic (payload is escape-free by construction; '{'
    "msg":...'}' adds 10 bytes around it). One 12-byte-row count
    exchange for the window frames; data frames are a projection."""
    from .sinks import lumberjack_frames
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy((F.col("event_id") / 64).cast("long")) \
        .orderBy("event_id")
    base = ev.select(
        (F.col("event_id") / 64).cast("long").alias("batch"),
        F.row_number().over(w).cast("long").alias("seq"),
        F.concat(F.lit("m"), F.col("event_id").cast("string"))
        .alias("msg"))
    out = lumberjack_frames(base, "batch", "seq")
    return out.select("batch", "kind", "seq",
                      F.hex("frame").alias("frame_hex"))


def flagship_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full routed event frame (entry() surface)."""
    from .pipeline import build_routed
    docs = _t(spark, sf_dir, "documents")
    pages = pages_from_documents(docs)
    host_meta, lang_meta = _flagship_lookups(spark, docs)
    routed = build_routed(pages, host_meta, lang_meta)
    return routed.select(
        "url", "msg_idx", "sink", "message", "event_ts", "lang",
        "level", "host", "bytes", "geo_country", "lang_label", "event_id")


# =====================================================================
# inputs, framing and enrichment: relational rollups, socket / kafka /
# journald / udp / warc inputs, CIDR and CEF/kv decoding
# =====================================================================


@query("salted_join_rollup", oracle="""
SELECT o_orderpriority,
       count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""")
def salted_join_rollup(spark, sf_dir):
    """Skew-safe salted equi-join (:func:`beats_spark.skew
    .salted_join`): the big side salts deterministically, the dim
    side replicates x salts, the join runs on (key, salt) — a hot key
    spreads over `salts` reducers; result row-identical to the plain
    join (the oracle IS the plain join). Revenue summed in integer
    cents for engine-exact totals."""
    from .skew import salted_join
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderpriority")
    j = salted_join(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        orders, "o_orderkey", salts=8)
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("long")
    return (j.groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n_items"),
                  F.sum(cents).alias("revenue_cents")))


@query("counter_rollup", oracle="""
SELECT CASE WHEN GROUPING(event_type) = 1 THEN NULL
            ELSE event_type END AS event_type,
       CASE WHEN GROUPING(day) = 1 THEN 'ALL'
            ELSE coalesce(CAST(day AS VARCHAR), 'ALL') END AS day,
       CAST(GROUPING(event_type) * 2 + GROUPING(day) AS INT)
         AS grouping_id,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM (SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             value
      FROM events)
GROUP BY ROLLUP (event_type, day)
""")
def counter_rollup(spark, sf_dir):
    """Multi-granularity counter rollup: per (type, day), per type,
    and grand total in ONE aggregation pass — Spark's ``rollup``
    (partial aggregates are shared across the grouping sets, so the
    input scans once) against DuckDB's ``GROUP BY ROLLUP``. The
    grouping_id column disambiguates a real NULL group from a
    rolled-up level, and money sums ride integer cents for exact
    cross-engine totals."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select("event_type",
                     F.date_trunc("day", F.col("ts")).cast("date")
                      .alias("day"),
                     "value")
    return (base.rollup("event_type", "day")
            .agg(F.grouping_id().cast("int").alias("grouping_id"),
                 F.count(F.lit(1)).alias("n"),
                 F.sum(_cents(F.col("value"))).alias("value_cents"))
            .select("event_type",
                    # string + sentinel: a NULL DATE surfaces as NaT
                    # in one engine's frame and None in the other's,
                    # which the value-hash compare can't unify
                    F.coalesce(F.col("day").cast("string"),
                               F.lit("ALL")).alias("day"),
                    "grouping_id", "n", "value_cents"))


@query("range_enrich", oracle="""
WITH f AS (SELECT event_id,
                  CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
r AS (SELECT n_nationkey * 1000 AS range_start,
             n_nationkey * 1000 + 999 AS range_end,
             n_name AS tier
      FROM nation)
SELECT f.event_id, r.tier
FROM f LEFT JOIN r
  ON f.cents BETWEEN r.range_start AND r.range_end
""")
def range_enrich(spark, sf_dir):
    """Interval-containment enrichment (:func:`beats_spark.skew
    .chunked_range_join`) — the GeoIP/CIDR-block lookup shape as an
    EQUI-join: ranges explode into fixed-width chunks, facts shift
    into theirs, BETWEEN post-filters — no BroadcastNestedLoopJoin
    (plan-asserted in test_skew). Tier table derived from nation
    (1000-cent bands); the oracle is the defining BETWEEN join."""
    from .skew import chunked_range_join
    ev = _t(spark, sf_dir, "events")
    nation = _t(spark, sf_dir, "nation")
    facts = ev.select("event_id", _cents(F.col("value")).alias("cents"))
    ranges = nation.select(
        (F.col("n_nationkey") * 1000).alias("range_start"),
        (F.col("n_nationkey") * 1000 + 999).alias("range_end"),
        F.col("n_name").alias("tier"))
    out = chunked_range_join(facts, ranges, "cents", chunk_bits=8)
    return out.select("event_id", "tier")


@query("socket_frames", oracle="""
WITH chunks AS (
  SELECT event_id,
         'ev ' || CAST(event_id AS VARCHAR) || ';' || event_type
         || CASE WHEN event_id % 5 = 0 THEN ';;tail' ELSE '' END
         || CASE WHEN event_id % 4 = 0 THEN ';' ELSE '' END AS chunk
  FROM events),
split AS (
  SELECT event_id,
         CASE WHEN chunk LIKE '%;'
              THEN list_slice(string_split(chunk, ';'), 1,
                              len(string_split(chunk, ';')) - 1)
              ELSE string_split(chunk, ';') END AS frames
  FROM chunks),
f AS (
  SELECT event_id,
         unnest(range(len(frames))) AS pos,
         unnest(frames) AS frame
  FROM split)
SELECT event_id, CAST(pos AS INT) AS pos,
       substr(frame, 1, 6) AS frame,
       length(frame) > 6 AS truncated
FROM f
""")
def socket_frames(spark, sf_dir):
    """Network-input framing: the tcp/unix listener's frame splitter
    (:func:`beats_spark.streaming.sources.split_frames`, porting
    ``filebeat/inputsource/common/streaming/scan.go`` FactoryDelimiter)
    over received chunks, plus ``max_message_size`` truncation
    (``inputsource/tcp/config.go:36``). Chunks are synthesized from
    events with trailing and doubled delimiters to exercise the
    bufio-compatible edge rules: a trailing delimiter terminates the
    last frame without an empty event; empty frames BETWEEN
    delimiters survive. One Arrow kernel → JVM posexplode; the oracle
    is DuckDB string_split with the same trailing-delimiter drop."""
    from .streaming.sources import frames_arrow
    ev = _t(spark, sf_dir, "events")
    chunk = F.concat(
        F.lit("ev "), F.col("event_id").cast("string"), F.lit(";"),
        F.col("event_type"),
        F.when(F.col("event_id") % 5 == 0, F.lit(";;tail"))
         .otherwise(F.lit("")),
        F.when(F.col("event_id") % 4 == 0, F.lit(";"))
         .otherwise(F.lit("")))
    src = ev.select("event_id", chunk.alias("chunk"))
    max_sz = 6
    return (src
            .select("event_id",
                    F.posexplode(frames_arrow(F.col("chunk"),
                                              "delimiter", ";"))
                     .alias("pos", "frame"))
            .select("event_id",
                    F.col("pos").cast("int").alias("pos"),
                    F.substring("frame", 1, max_sz).alias("frame"),
                    (F.length("frame") > max_sz).alias("truncated")))


@query("kafka_events", oracle="""
WITH wire AS (
  SELECT 'm ' || CAST(event_id AS VARCHAR) || ' ' || event_type
           AS value,
         'logs-' || event_type AS topic,
         CAST(user_id % 8 AS INT) AS part,
         CAST(event_id AS BIGINT) AS off,
         CASE WHEN event_id % 3 = 0 THEN NULL
              ELSE 'k' || CAST(user_id AS VARCHAR) END AS key,
         ts
  FROM events)
SELECT value AS message, topic AS kafka_topic,
       part AS kafka_partition, off AS kafka_offset,
       key AS kafka_key,
       'trace_id: t' || CAST(off AS VARCHAR) || '|src: beats'
         AS hdrs,
       ts AS event_time,
       topic || '/' || CAST(part AS VARCHAR) AS log_source_address,
       off AS log_offset
FROM wire
""")
def kafka_events_q(spark, sf_dir):
    """Kafka input event shaping
    (:func:`beats_spark.streaming.sources.kafka_events`, porting
    ``filebeat/input/kafka/input.go:436-470`` composeEventMetadata /
    composeMessage + ``arrayForKafkaHeaders`` ``:226-241``): a
    Kafka-wire frame (binary key/value, topic, partition, offset,
    headers) synthesized from events — no broker in-sandbox, exactly
    how ``datagram_events`` replays capture tables — shaped into the
    reference's event: message text, flattened kafka_* metadata,
    headers serialized ``"key: value"`` with ``:`` masked in the key,
    and the chain-reuse columns (log_source_address =
    topic/partition, log_offset = offset) that let socket_pipeline
    order per partition by offset. NULL keys (unkeyed producers)
    pass through. Pure codegen projection — zero Python, zero
    shuffle; the oracle rebuilds every column from the same
    construction."""
    from .streaming.sources import kafka_events
    ev = _t(spark, sf_dir, "events")
    wire = ev.select(
        F.encode(F.concat(F.lit("m "),
                          F.col("event_id").cast("string"),
                          F.lit(" "), F.col("event_type")), "utf-8")
        .alias("value"),
        F.concat(F.lit("logs-"), F.col("event_type")).alias("topic"),
        (F.col("user_id") % 8).cast("int").alias("partition"),
        F.col("event_id").cast("long").alias("offset"),
        F.when(F.col("event_id") % 3 == 0, F.lit(None))
         .otherwise(F.encode(F.concat(F.lit("k"),
                                      F.col("user_id").cast("string")),
                             "utf-8")).alias("key"),
        F.col("ts").alias("timestamp"),
        F.array(
            F.struct(F.lit("trace:id").alias("key"),
                     F.encode(F.concat(F.lit("t"),
                                       F.col("event_id")
                                       .cast("string")), "utf-8")
                     .alias("value")),
            F.struct(F.lit("src").alias("key"),
                     F.encode(F.lit("beats"), "utf-8").alias("value")))
        .alias("headers"))
    out = kafka_events(wire)
    return out.select(
        "message", "kafka_topic", "kafka_partition", "kafka_offset",
        "kafka_key",
        F.concat_ws("|", "kafka_headers").alias("hdrs"),
        F.col("@timestamp").alias("event_time"),
        "log_source_address", "log_offset")


@query("ttl_batch_split", oracle="""
WITH e AS (
  SELECT event_id,
         event_id // 64 AS batch,
         CAST(row_number() OVER (PARTITION BY event_id // 64
                                 ORDER BY event_id) - 1 AS BIGINT) AS idx,
         CAST(octet_length(encode(props))
              * CASE WHEN event_id % 97 = 0 THEN 50 ELSE 1 END
              AS BIGINT) AS nbytes
  FROM events),
pre AS (  -- cum(i) = bytes of the first i events of the batch
  SELECT batch, idx + 1 AS i,
         sum(nbytes) OVER (PARTITION BY batch ORDER BY idx) AS cum
  FROM e
  UNION ALL
  SELECT DISTINCT batch, 0, 0 FROM e),
n AS (SELECT batch, count(*) AS cnt FROM e GROUP BY batch),
ranges AS (
  WITH RECURSIVE r(batch, lo, hi) AS (
    SELECT batch, CAST(0 AS BIGINT), cnt FROM n
    UNION ALL
    SELECT r.batch,
           CASE WHEN s.side = 0 THEN r.lo
                ELSE r.lo + (r.hi - r.lo) // 2 END,
           CASE WHEN s.side = 0 THEN r.lo + (r.hi - r.lo) // 2
                ELSE r.hi END
    FROM r
    JOIN pre ph ON ph.batch = r.batch AND ph.i = r.hi
    JOIN pre pl ON pl.batch = r.batch AND pl.i = r.lo
    CROSS JOIN (VALUES (0), (1)) s(side)
    WHERE ph.cum - pl.cum > 256 AND r.hi - r.lo >= 2)
  SELECT * FROM r),
terminal AS (
  SELECT r.batch, r.lo, r.hi, ph.cum - pl.cum AS total
  FROM ranges r
  JOIN pre ph ON ph.batch = r.batch AND ph.i = r.hi
  JOIN pre pl ON pl.batch = r.batch AND pl.i = r.lo
  WHERE ph.cum - pl.cum <= 256 OR r.hi - r.lo < 2)
SELECT e.event_id, e.batch, t.lo AS sub_batch,
       coalesce(t.hi - t.lo = 1 AND t.total > 256, FALSE) AS too_large
FROM e JOIN terminal t
  ON e.batch = t.batch AND e.idx >= t.lo AND e.idx < t.hi
""")
def ttl_batch_split_q(spark, sf_dir):
    """Publisher batch-split-on-too-large
    (:func:`beats_spark.sinks.ttl_batch_split`, porting
    ``ttl_batch.go:110-143`` SplitRetry + the ES client's
    unsplittable-drop at ``elasticsearch/client.go:330-341``): batches
    of 64 events halve recursively until under a 256-byte cap; events
    inflated ×50 (every 97th) become too-large singletons. The oracle
    re-derives the halving tree as a DuckDB recursive CTE over prefix
    sums — exactly-once assignment is implied by the row-count match."""
    from .sinks import ttl_batch_split
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        (F.col("event_id") / 64).cast("bigint").alias("batch"),
        (F.octet_length(F.col("props"))
         * F.when(F.col("event_id") % 97 == 0, 50).otherwise(1))
        .cast("bigint").alias("nbytes"))
    out = ttl_batch_split(e, size_col="nbytes", batch_col="batch",
                          order_col="event_id", max_batch_bytes=256)
    return out.select("event_id", "batch", "sub_batch", "too_large")


@query("journald_export", oracle="""
WITH recs AS (
  SELECT event_id, 0 AS record_idx, ts AS event_ts,
         event_type || ' ' || CAST(event_id AS VARCHAR) AS message,
         CAST(user_id % 8 AS BIGINT) AS log_syslog_priority,
         CAST(NULL AS BIGINT) AS log_syslog_procid,
         'host' || CAST(user_id % 5 AS VARCHAR) AS host_hostname,
         event_type || '.service' AS systemd_unit,
         'v' || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
           AS custom_field
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT event_id, 1, ts + INTERVAL 1 SECOND,
         'ack ' || CAST(event_id AS VARCHAR),
         3, CAST(user_id AS BIGINT), NULL, 'ack.service', NULL
  FROM events)
SELECT * FROM recs
""")
def journald_export_q(spark, sf_dir):
    """journald input (``filebeat/input/journald``): synthesize
    ``journalctl -o export`` blobs (two records each) from events,
    parse with :func:`beats_spark.functions.journald.
    parse_journal_export` — field table ``journalfield/default.go``,
    integer conversion with the "pid,username" comma fallback
    (``conv.go:94-115``, exercised by record B's ``SYSLOG_PID=n,svc``),
    ``__REALTIME_TIMESTAMP`` µs → @timestamp, last-wins repeats,
    ``__CURSOR`` dropped — then ``include_matches`` filtering
    (same-field OR). Pure JVM projection, zero shuffle; the oracle
    re-derives every mapped field from the source columns, so the
    check is that parse inverts construction exactly."""
    from .functions.journald import include_matches, parse_journal_export
    ev = _t(spark, sf_dir, "events")
    # parquet ts is TIMESTAMP_NTZ; the UTC session pin makes the
    # instant interpretation identical to DuckDB's naive arithmetic
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    blob = F.concat(
        F.lit("__REALTIME_TIMESTAMP="), us.cast("string"), F.lit("\n"),
        F.lit("PRIORITY="), (F.col("user_id") % 8).cast("string"),
        F.lit("\n"),
        F.lit("SYSLOG_IDENTIFIER="), F.col("event_type"), F.lit("\n"),
        F.lit("_PID="), F.col("user_id").cast("string"), F.lit("\n"),
        F.lit("_HOSTNAME=host"), (F.col("user_id") % 5).cast("string"),
        F.lit("\n"),
        F.lit("_SYSTEMD_UNIT="), F.col("event_type"),
        F.lit(".service\n"),
        F.lit("CUSTOM_FIELD=v"),
        F.round(F.col("value") * 100).cast("bigint").cast("string"),
        F.lit("\n"),
        F.lit("MESSAGE="), F.col("event_type"), F.lit(" "),
        F.col("event_id").cast("string"), F.lit("\n"),
        F.lit("__CURSOR=s="), F.col("event_id").cast("string"),
        F.lit("\n\n"),
        F.lit("__REALTIME_TIMESTAMP="),
        (us + 1_000_000).cast("string"), F.lit("\n"),
        F.lit("PRIORITY=3\n"),
        F.lit("SYSLOG_PID="), F.col("user_id").cast("string"),
        F.lit(",svc\n"),
        F.lit("_SYSTEMD_UNIT=ack.service\n"),
        F.lit("MESSAGE=ack "), F.col("event_id").cast("string"),
        F.lit("\n"))
    src = ev.select("event_id", blob.alias("export"))
    out = parse_journal_export(src, "export", keep_source=True)
    out = include_matches(out, ["systemd_unit=click.service",
                                "systemd_unit=ack.service"])
    return out.select(
        "event_id", "record_idx",
        F.col("@timestamp").cast("timestamp_ntz").alias("event_ts"),
        "message",
        "log_syslog_priority", "log_syslog_procid", "host_hostname",
        "systemd_unit",
        F.col("journald_fields").getItem("CUSTOM_FIELD")
         .alias("custom_field"))


@query("udp_datagrams", oracle="""
SELECT event_id,
       ts AS event_ts,
       substr(event_type || ' ' || props, 1, 40) AS message,
       length(event_type || ' ' || props) > 40 AS truncated,
       '10.0.' || CAST(user_id % 8 AS VARCHAR) || '.'
         || CAST(user_id % 250 AS VARCHAR) || ':514'
         AS log_source_address
FROM events
""")
def udp_datagrams_q(spark, sf_dir):
    """UDP datagram input (``filebeat/input/net/udp/input.go``; event
    shape ``input/net/manager.go:222-235``): a replayed packet-capture
    table shaped by :func:`beats_spark.streaming.sources.
    datagram_events` — one datagram = one event, NO framing (UDP
    preserves message boundaries), ``max_message_size`` byte-budget
    cut + flag (``inputsource/udp/config.go:31``: the reference reads
    each packet into a MaxMessageSize buffer, so oversize arrives
    cut), capture timestamp carried through (a replay must not stamp
    wall-clock). Pure codegen projection, zero shuffle; datagrams are
    ASCII so the oracle's substr is the same byte cut."""
    from .streaming.sources import datagram_events
    ev = _t(spark, sf_dir, "events")
    cap = ev.select(
        "event_id", "ts",
        F.concat(F.col("event_type"), F.lit(" "), F.col("props"))
         .alias("value"),
        F.concat(F.lit("10.0."), (F.col("user_id") % 8).cast("string"),
                 F.lit("."), (F.col("user_id") % 250).cast("string"),
                 F.lit(":514")).alias("remote"))
    out = datagram_events(cap, "value", source_col="remote",
                          max_message_size=40, ts_col="ts")
    return out.select("event_id",
                      F.col("@timestamp").alias("event_ts"),
                      "message", "truncated", "log_source_address")


@query("warc_extract", oracle="""
WITH d AS (
  SELECT doc_id, text, source,
         'https://' || source || '.example.com/doc/'
           || CAST(doc_id AS VARCHAR) AS uri,
         TIMESTAMP '2024-01-01 00:00:00'
           + doc_id * INTERVAL 1 SECOND AS fetched
  FROM documents)
SELECT doc_id, 0 AS record_idx, 'response' AS warc_type,
       uri AS target_uri, fetched AS warc_date,
       CAST(octet_length(encode(
         'HTTP/1.1 200 OK' || chr(13) || chr(10)
         || 'Content-Type: text/html; charset=utf-8'
         || chr(13) || chr(10) || chr(13) || chr(10) || text))
         AS BIGINT) AS content_length,
       CAST(200 AS BIGINT) AS http_status, text AS body
FROM d
UNION ALL
SELECT doc_id, 1, 'metadata', uri, fetched,
       CAST(11 AS BIGINT), NULL, NULL
FROM d
""")
def warc_extract_q(spark, sf_dir):
    """WARC record parsing (ISO 28500 — the Common-Crawl container
    behind the north_star's pages table): documents wrapped into
    two-record WARC blobs (an HTTP ``response`` + a ``metadata``
    record, folded headers and byte-counted Content-Length included),
    then re-extracted with :func:`beats_spark.functions.warc.
    parse_warc`. One Arrow kernel (the record walk) → JVM posexplode →
    codegen HTTP split; the oracle derives every field from the source
    columns, so the check is that extraction inverts archiving —
    including ``body`` = the original text BYTE-IDENTICAL per url,
    the north_star's per-row invariant, with multibyte payloads
    exercised (zh documents)."""
    from .functions.warc import parse_warc
    docs = _t(spark, sf_dir, "documents")
    fetched = F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id"))
    uri = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/doc/"),
                   F.col("doc_id").cast("string"))
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\n"
              "Content-Type: text/html; charset=utf-8\r\n\r\n"),
        F.col("text"))
    date = F.date_format(fetched, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    blob = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        uri, F.lit("\r\nWARC-Date: "), date,
        F.lit("\r\nContent-Type: application/http;\r\n"
              " msgtype=response\r\nContent-Length: "),
        F.octet_length(F.encode(http, "utf-8")).cast("string"),
        F.lit("\r\n\r\n"), http,
        F.lit("\r\n\r\nWARC/1.0\r\nWARC-Type: metadata\r\n"
              "WARC-Target-URI: "), uri,
        F.lit("\r\nWARC-Date: "), date,
        F.lit("\r\nContent-Length: 11\r\n\r\nvia=crawler\r\n\r\n"))
    src = docs.select("doc_id", blob.alias("warc"))
    out = parse_warc(src, "warc", keep_source=True)
    return out.select(
        "doc_id", "record_idx", "warc_type", "target_uri",
        F.col("warc_date").cast("timestamp_ntz").alias("warc_date"),
        "content_length", "http_status", "body")


@query("typosquat_detect", oracle="""
WITH hosts AS (
  SELECT DISTINCT
         CASE WHEN doc_id % 11 = 0
              THEN 'src' || CAST(doc_id % 20 AS VARCHAR) || 'x'
                   || '.example.com'
              ELSE source || '.example.com' END AS host
  FROM documents),
protected AS (
  SELECT unnest(['src1.example.com', 'src7.example.com',
                 'src12.example.com']) AS p)
SELECT h.host, p.p AS protected_host,
       CAST(levenshtein(h.host, p.p) AS INT) AS distance
FROM hosts h JOIN protected p
  ON abs(length(h.host) - length(p.p)) <= 1
 AND h.host <> p.p
 AND levenshtein(h.host, p.p) <= 1
""")
def typosquat_detect_q(spark, sf_dir):
    """Typosquat / look-alike host detection: every observed host
    within edit distance 1 of a protected domain list — the phishing
    and brand-abuse staple of web-crawl security review. Hosts
    synthesized with deliberate one-character variants (src3x for
    src3). The protected list BROADCASTS (it is small by nature) and
    the length pre-filter kills most pairs before the O(len²)
    levenshtein runs — the corpus maps once, nothing shuffles.
    levenshtein is the classic DP, identical values in Spark and
    DuckDB, so distances are oracle-exact."""
    docs = _t(spark, sf_dir, "documents")
    host = (F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.lit("src"),
                            (F.col("doc_id") % 20).cast("string"),
                            F.lit("x.example.com")))
            .otherwise(F.concat(F.col("source"),
                                F.lit(".example.com"))))
    hosts = docs.select(host.alias("host")).distinct()
    protected = F.array(*[F.lit(p) for p in
                          ["src1.example.com", "src7.example.com",
                           "src12.example.com"]])
    pr = (docs.sparkSession.range(1)
          .select(F.explode(protected).alias("p")))
    dist = F.levenshtein(F.col("host"), F.col("p"))
    return (hosts.join(
                F.broadcast(pr),
                (F.abs(F.length("host") - F.length("p")) <= 1)
                & (F.col("host") != F.col("p")) & (dist <= 1))
            .select("host", F.col("p").alias("protected_host"),
                    dist.cast("int").alias("distance")))


@query("cidr_enrich", oracle="""
WITH src AS (SELECT '10.' || CAST(user_id % 3 AS VARCHAR) || '.'
        || CAST(event_id % 3 AS VARCHAR) || '.'
        || CAST(event_id % 200 AS VARCHAR) AS ip, event_id
      FROM events),
ipl AS (SELECT *,
  CAST(string_split(ip,'.')[1] AS BIGINT)*16777216
  + CAST(string_split(ip,'.')[2] AS BIGINT)*65536
  + CAST(string_split(ip,'.')[3] AS BIGINT)*256
  + CAST(string_split(ip,'.')[4] AS BIGINT) AS v FROM src),
m AS (SELECT *,
  CASE WHEN (v // 256) * 256 = 167837952 THEN 3
       WHEN (v // 65536) * 65536 = 167837696 THEN 2
       WHEN (v // 16777216) * 16777216 = 167772160 THEN 1
       ELSE 0 END AS tier FROM ipl)
SELECT ip, event_id,
  CASE tier WHEN 3 THEN 64498 WHEN 2 THEN 64497
            WHEN 1 THEN 64496 END AS asn,
  CASE tier WHEN 3 THEN 'lb-pool' WHEN 2 THEN 'dmz'
            WHEN 1 THEN 'corp-net' END AS net_name
FROM m
""")
def cidr_enrich_q(spark, sf_dir):
    """Longest-prefix-match CIDR enrichment
    (:func:`beats_spark.processors.enrich.cidr_enrich`): synthetic
    event IPs against a nested /8-/16-/24 prefix table, longest
    match winning (routing semantics). One broadcast hash join per
    distinct masklen (≤ 33 ever), big side never shuffles; the
    oracle spells the same mask arithmetic as tiered CASE."""
    from .processors.enrich import cidr_enrich
    ev = _t(spark, sf_dir, "events")
    prefixes = local_frame(spark, [
        ("10.0.0.0/8", 64496, "corp-net"),
        ("10.1.0.0/16", 64497, "dmz"),
        ("10.1.1.0/24", 64498, "lb-pool"),
        ("192.168.0.0/16", 64499, "lab"),
    ], "cidr string, asn int, net_name string")
    src = ev.select(
        F.concat(F.lit("10."), (F.col("user_id") % 3).cast("string"),
                 F.lit("."), (F.col("event_id") % 3).cast("string"),
                 F.lit("."),
                 (F.col("event_id") % 200).cast("string"))
        .alias("ip"), "event_id")
    return cidr_enrich(src, prefixes, "ip")


def _ring_literal(hosts, vnodes=64, seed=""):
    """The consistent-hash ring as a DuckDB sorted struct-list
    literal — SAME hashlib points the Spark plan burns in (md5 is
    bit-identical everywhere; ring construction parity is asserted
    in tests/test_routing.py, this constant just shares it)."""
    import hashlib
    ring = sorted(
        (int(hashlib.md5(f"{h}#{i}#{seed}".encode()).hexdigest()[:15],
             16), h)
        for h in hosts for i in range(vnodes))
    items = ", ".join("{'p': " + str(p) + ", 'h': '" + h + "'}"
                      for p, h in ring)
    return "[" + items + "]", ring[0][1]


_CR_RING, _CR_FIRST = _ring_literal(
    ["es-a", "es-b", "es-c", "es-d", "es-e"])

@query("consistent_route", oracle=f"""
WITH k AS (SELECT event_id,
                  CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)
                                           || '#'), 1, 15)) AS BIGINT)
                    AS kh
           FROM events WHERE event_id < 2000),
m AS (SELECT event_id,
             list_filter({_CR_RING}, s -> s.p >= kh) AS nxt
      FROM k)
SELECT event_id,
       CASE WHEN len(nxt) > 0 THEN nxt[1].h
            ELSE '{_CR_FIRST}' END AS host
FROM m
""")
def consistent_route_q(spark, sf_dir):
    """Consistent-hash output balancing
    (:func:`beats_spark.routing.consistent_route`): 2000 events
    keyed on event_id spread over five sink hosts via a 64-vnode
    md5 ring burned into the plan — one hash + one ordered array
    probe per row, zero shuffle; when a host leaves only its keys
    move (asserted in test_routing). The affinity-preserving form
    of beats' output loadbalancing."""
    from .routing import consistent_route
    ev = (_t(spark, sf_dir, "events")
          .filter(F.col("event_id") < 2000)
          .select("event_id"))
    return consistent_route(ev, ["es-a", "es-b", "es-c", "es-d",
                                 "es-e"], key_col="event_id")


_CEF_HDR_RE = (r"(?s)^CEF:(\d+)" + r"\|((?:\\.|[^\\|])*)" * 6
               + r"\|(.*)$")
_CEF_KEY_RE = r"[A-Za-z0-9_][A-Za-z0-9_.,\[\]\-]*"


def _cef_oracle_key(key: str) -> str:
    """DuckDB expression replaying the codegen extension pipeline for
    one key over alias ``m`` (the marked extension block): filter the
    sentinel-split pieces to well-formed ``key=``, take the last
    occurrence, decode escapes left-to-right via the stash chain."""
    piece = (f"list_filter(string_split(m, chr(1)), p -> "
             f"regexp_extract(p, '^({_CEF_KEY_RE})=', 1) = '{key}' AND "
             f"regexp_matches(regexp_replace(p, '^{_CEF_KEY_RE}=', ''),"
             f" '^(?:\\\\[\\\\=nr]|[^\\\\=])*$'))[-1]")
    raw = f"regexp_replace({piece}, '^{_CEF_KEY_RE}=', '')"
    return ("regexp_replace(regexp_replace(regexp_replace("
            "regexp_replace(regexp_replace(" + raw +
            r", '\\\\', chr(2), 'g'), '\\n', chr(10), 'g'), "
            r"'\\r', chr(13), 'g'), '\\(.)', '\1', 'g'), "
            r"chr(2), '\\', 'g')")


_CEF_LINE_SQL = (
    r"'CEF:1|acme|threat\|mgr|2.0|' || event_type || '|detected|' || "
    "CAST(event_id % 10 AS VARCHAR) || '|src=10.0.' || "
    "CAST(user_id % 200 AS VARCHAR) || '.' || "
    "CAST(user_id % 250 AS VARCHAR) || ' spt=' || "
    "CAST(event_id % 65535 AS VARCHAR) || "
    r"' msg=status eq\= ' || event_type || '  ok act=allow '")


@query("decode_cef", oracle=rf"""
WITH raw AS (
  SELECT event_id, {_CEF_LINE_SQL} AS line FROM events),
hdr AS (
  SELECT event_id,
    TRY_CAST(regexp_extract(line, '{_CEF_HDR_RE}', 1) AS INTEGER)
      AS cef_version,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_extract(line, '{_CEF_HDR_RE}', 3),
      '\\\\', chr(2), 'g'), '\\n', chr(10), 'g'), '\\r', chr(13), 'g'),
      '\\(.)', '\1', 'g'), chr(2), '\\', 'g') AS device_product,
    regexp_extract(line, '{_CEF_HDR_RE}', 5)
      AS device_event_class_id,
    regexp_extract(line, '{_CEF_HDR_RE}', 7) AS severity,
    regexp_replace(
      regexp_replace(regexp_extract(line, '{_CEF_HDR_RE}', 8),
                     '[ \t\r\n]+$', ''),
      '( )({_CEF_KEY_RE})=', chr(1) || '\2=', 'g') AS m
  FROM raw)
SELECT event_id, cef_version, device_product, device_event_class_id,
       severity,
       {_cef_oracle_key("src")} AS src,
       {_cef_oracle_key("spt")} AS spt,
       {_cef_oracle_key("msg")} AS msg,
       {_cef_oracle_key("act")} AS act
FROM hdr
""")
def decode_cef_q(spark, sf_dir):
    """CEF decode (:mod:`beats_spark.functions.cef`, reference
    ``x-pack/filebeat/processors/decode_cef``): header split on
    escaped pipes, extension tokenization at space-preceded ``key=``
    boundaries, malformed-field drop, left-to-right escape decode —
    all pure codegen (~10 regexp passes, zero exchanges, zero
    Python), so 100 TB of CEF lines decode at scan speed. Demo lines
    derive deterministically from events rows and exercise an escaped
    header pipe, an escaped ``=`` in a value, interior double spaces,
    and final-value rtrim. The oracle replays the identical sentinel
    pipeline in RE2. The raw pairs array is STAGED in its own
    projection before the four key extractions — HOFs are invisible
    to codegen subexpression elimination, so the un-staged spelling
    re-tokenized the line once per key (18.4 s → 3.6 s at sf0.1)."""
    from .functions.cef import (cef_get, cef_header_fields,
                                cef_header_from, cef_pairs_raw)
    ev = _t(spark, sf_dir, "events")
    line = F.concat(
        F.lit("CEF:1|acme|threat\\|mgr|2.0|"), F.col("event_type"),
        F.lit("|detected|"), (F.col("event_id") % 10).cast("string"),
        F.lit("|src=10.0."), (F.col("user_id") % 200).cast("string"),
        F.lit("."), (F.col("user_id") % 250).cast("string"),
        F.lit(" spt="), (F.col("event_id") % 65535).cast("string"),
        F.lit(" msg=status eq\\= "), F.col("event_type"),
        F.lit("  ok act=allow "))
    staged = (ev.withColumn("_hf", cef_header_fields(line))
                .withColumn("_pairs", cef_pairs_raw(None, F.col("_hf"))))
    h = cef_header_from(F.col("_hf"))
    pr = F.col("_pairs")
    return staged.select(
        "event_id",
        h["cef_version"].alias("cef_version"),
        h["device_product"].alias("device_product"),
        h["device_event_class_id"].alias("device_event_class_id"),
        h["severity"].alias("severity"),
        cef_get(None, "src", pairs=pr).alias("src"),
        cef_get(None, "spt", pairs=pr).alias("spt"),
        cef_get(None, "msg", pairs=pr).alias("msg"),
        cef_get(None, "act", pairs=pr).alias("act"))


_KV_LINE_SQL = ("'src=' || source || ' tag=\"' || lang || "
                "' corpus\" n=' || CAST(n_chars AS VARCHAR) || "
                "' src=' || source || '-2'")


@query("kv_extract", oracle=rf"""
SELECT doc_id,
  regexp_extract_all(line,
    '(?:^|[ ])tag=("(?:\\.|[^"\\])*"|[^ ]*)', 1)[-1] AS tag_raw,
  regexp_extract_all(line,
    '(?:^|[ ])src=("(?:\\.|[^"\\])*"|[^ ]*)', 1)[-1] AS src,
  regexp_extract_all(line,
    '(?:^|[ ])n=("(?:\\.|[^"\\])*"|[^ ]*)', 1)[-1] AS n
FROM (SELECT doc_id, {_KV_LINE_SQL} AS line FROM documents)
""")
def kv_extract_q(spark, sf_dir):
    """Logstash-style ``key=value`` / ``key="quoted value"``
    extraction (:func:`beats_spark.functions.cef.kv_get`): quoted
    values span spaces with ``\\"`` escapes, unquoted stop at the
    next space, last occurrence wins. One regexp_extract_all per
    requested key, pure codegen. The oracle keeps the raw quoted
    token for ``tag`` (quote handling is pinned engine-side by
    test_cef) and the unquoted values verbatim — identical regex,
    RE2∩Java-safe."""
    from .functions.cef import kv_get
    docs = _t(spark, sf_dir, "documents")
    line = F.concat(
        F.lit("src="), F.col("source"), F.lit(' tag="'),
        F.col("lang"), F.lit(' corpus" n='),
        F.col("n_chars").cast("string"),
        F.lit(" src="), F.col("source"), F.lit("-2"))
    raw = F.try_element_at(
        F.regexp_extract_all(
            line,
            F.lit('(?:^|[ ])tag=("(?:\\\\.|[^"\\\\])*"|[^ ]*)'),
            F.lit(1)),
        F.lit(-1))
    return docs.select(
        "doc_id",
        raw.alias("tag_raw"),
        kv_get(line, "src").alias("src"),
        kv_get(line, "n").alias("n"))


