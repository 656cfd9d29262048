"""WARC (Web ARChive, ISO 28500) record parsing — the native container
of Common-Crawl-style web corpora, i.e. the wire format BEHIND the
north_star's pages table (``url, warc_ts, html, text, lang``).

A WARC file is a concatenation of records::

    WARC/1.0\\r\\n
    WARC-Type: response\\r\\n
    WARC-Target-URI: http://…\\r\\n
    WARC-Date: 2024-01-01T00:00:00Z\\r\\n
    Content-Length: N\\r\\n
    \\r\\n
    <exactly N payload BYTES>\\r\\n\\r\\n

Parsing rules implemented (the public spec, cross-checked against the
warcio reader's behavior):

- ``Content-Length`` counts BYTES, so the walk runs over the utf-8
  encoding and payload boundaries are byte-exact — the property the
  north_star's "byte-identical extracted text per url" check rides on;
- header names are case-insensitive; values are trimmed; folded
  continuation lines (leading space/tab) append to the previous header
  (spec §4, as in HTTP);
- every record must start with a ``WARC/`` version line and carry a
  numeric ``Content-Length``; each payload must be followed by the
  two-CRLF record separator. Violations raise a loud ValueError — a
  silent resync would misattribute every later payload in the blob
  (the same contract as the rfc6587 splitter in
  ``streaming/sources.py``);
- a payload cut that lands mid-rune (a non-utf-8 payload) also fails
  loudly: JVM strings cannot carry raw bytes — ship binary payloads
  in ``binary`` columns instead.

Shape: one Arrow kernel (blob → ``array<struct>``) then JVM
``posexplode`` — the fused-kernel pattern of the parse stage; the
optional HTTP response split (status / headers / body) is pure codegen
AFTER the kernel, so only the record walk itself pays Python.

Reference scope: Beats does not read WARC (its inputs are logs); this
is the web-archive input edge of the pages the pipeline parses, kept
to the same parser-contract standards as syslog/journald.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Tuple

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["parse_warc", "split_warc_records", "warc_records_arrow"]

_SEP = b"\r\n\r\n"

#: struct fields emitted per record (order matters for the Arrow schema)
_REC_SCHEMA = (
    "array<struct<warc_type: string, target_uri: string, "
    "warc_date: string, record_id: string, content_type: string, "
    "content_length: bigint, payload: string>>")


def _parse_headers(block: bytes, at: int) -> List[Tuple[str, str]]:
    """Header block → [(lower_name, value)], with folded-line
    continuation (leading SP/HT appends to the previous value)."""
    headers: List[Tuple[str, str]] = []
    for raw in block.split(b"\r\n"):
        if raw[:1] in (b" ", b"\t"):
            if not headers:
                raise ValueError(
                    f"warc: continuation line before any header at "
                    f"byte {at}")
            n, v = headers[-1]
            headers[-1] = (n, (v + " " + raw.strip().decode("utf-8"))
                           .strip())
            continue
        name, sep, val = raw.partition(b":")
        if not sep:
            raise ValueError(
                f"warc: malformed header line {raw[:40]!r} at byte {at}")
        headers.append((name.strip().decode("utf-8").lower(),
                        val.strip().decode("utf-8")))
    return headers


def split_warc_records(blob: "str | None") -> List[tuple]:
    """Walk one WARC blob; returns one tuple per record:
    ``(warc_type, target_uri, warc_date, record_id, content_type,
    content_length, payload)``. See module docstring for the rules."""
    if not blob:
        return []
    b = blob.encode("utf-8")
    n = len(b)
    out: List[tuple] = []
    i = 0
    while i < n:
        eol = b.find(b"\r\n", i)
        if eol < 0 or not b[i:eol].startswith(b"WARC/"):
            raise ValueError(
                f"warc: expected version line at byte {i}, got "
                f"{b[i:i + 20]!r}")
        hdr_end = b.find(_SEP, eol)
        if hdr_end < 0:
            raise ValueError(
                f"warc: unterminated header block at byte {i}")
        headers = dict(_parse_headers(b[eol + 2:hdr_end], i))
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError(
                f"warc: missing/bad Content-Length in record at "
                f"byte {i}") from None
        start = hdr_end + len(_SEP)
        end = start + length
        if end > n or b[end:end + len(_SEP)] != _SEP:
            raise ValueError(
                f"warc: record at byte {i} claims {length} payload "
                "bytes but is not followed by the CRLFCRLF separator")
        try:
            payload = b[start:end].decode("utf-8")
        except UnicodeDecodeError as e:
            raise ValueError(
                f"warc: payload at byte {start} is not utf-8 "
                f"({e.reason}) — ship binary payloads as binary "
                "columns") from e
        out.append((headers.get("warc-type"),
                    headers.get("warc-target-uri"),
                    headers.get("warc-date"),
                    headers.get("warc-record-id"),
                    headers.get("content-type"),
                    length,
                    payload))
        i = end + len(_SEP)
    return out


def warc_records_arrow(col) -> Column:
    """Arrow-batched record walker: blob → ``array<struct>`` (then
    ``posexplode`` JVM-side). One vectorized Python node."""
    @F.pandas_udf(_REC_SCHEMA)
    def _f(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for ser in it:
            yield ser.map(split_warc_records)
    return _f(col)


def parse_warc(
    df: DataFrame,
    col: str = "warc",
    parse_http: bool = True,
    keep_source: bool = False,
) -> DataFrame:
    """Parse concatenated WARC records out of ``df[col]``: one output
    row per record with ``record_idx`` (position within its blob),
    ``warc_type``, ``target_uri``, ``warc_date`` (timestamp — the
    spec's ISO-8601 ``Z`` form), ``record_id``, ``content_type``,
    ``content_length`` and ``payload``.

    With ``parse_http`` (the Common-Crawl ``response`` record shape:
    the payload is an HTTP response), three more columns come from a
    pure-codegen split on the FIRST blank line: ``http_status``
    (bigint, NULL when the payload is not HTTP), ``http_headers``
    (raw header block) and ``body`` — the bytes a text-extraction
    stage runs on, byte-identical to what was archived."""
    rec = F.posexplode(warc_records_arrow(F.col(col))) \
        .alias("record_idx", "__r")
    base = df.select("*", rec) if keep_source else df.select(rec)
    base = base.drop(col) if (keep_source and col in df.columns) else base
    r = F.col("__r")
    out = base.select(
        *[c for c in base.columns if c != "__r"],
        r["warc_type"].alias("warc_type"),
        r["target_uri"].alias("target_uri"),
        F.to_timestamp(r["warc_date"],
                       "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("warc_date"),
        r["record_id"].alias("record_id"),
        r["content_type"].alias("content_type"),
        r["content_length"].alias("content_length"),
        r["payload"].alias("payload"))
    if not parse_http:
        return out
    pay = F.col("payload")
    # the status line is "HTTP/x.y NNN reason"; a non-HTTP payload
    # (metadata/warcinfo records) yields NULL status and NULL body
    status = F.regexp_extract(pay, r"^HTTP/\d\.\d (\d{3})", 1)
    is_http = status != ""
    sep_pos = F.instr(pay, "\r\n\r\n")
    return (out
            .withColumn("http_status",
                        F.when(is_http, status.cast("bigint")))
            .withColumn("http_headers",
                        F.when(is_http & (sep_pos > 0),
                               F.substring(pay, 1, sep_pos - 1)))
            .withColumn("body",
                        F.when(is_http & (sep_pos > 0),
                               F.substr(pay, sep_pos + F.lit(4)))))
