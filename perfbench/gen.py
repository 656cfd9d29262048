"""Seeded pages generator and the expectation the correctness gate uses.

Every page is a pure function of ``(seed, page_id)``: one 64-bit mix of
the pair picks host, lang, level, byte count, latency and the corrupt
marker, so the gate can re-derive any page's log lines in plain Python
without reading the generated files back and without going through
``beats_spark``. The shape follows ``beats_spark.fixtures.pages``: two
dissect-able event lines per page, each followed by indented
continuation lines, and about 2% of pages whose second event line is
corrupt (the dead-letter path). The schema is the pages ``input_hint``:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.
"""

from __future__ import annotations

import os
from collections import Counter
from typing import Dict, Iterable, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

from beats_spark.fixtures import HOSTS, LANGS, _SLOT_COUNTS

BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z
LEVELS = ("info", "info", "warn", "error")
CORRUPT_LINE = "!!corrupt line with no key=value shape"
CONT1 = "  at handler.serve(handler.go:42)"
CONT2 = "  at mux.route(mux.go:17)"
CONT3 = "  at render.paint(render.go:99)"
# lang → sink, as the shipped lang_meta table and router decide it:
# zz has no lang_meta row and is dropped by rule, the rest follow
# their sink_hint
LANG_SINK = {"en": "sink_es", "de": "sink_es", "fr": "sink_ls",
             "es": "sink_ls", "zh": "sink_ls", "zz": "sink_dropped"}
SINKS = ("sink_es", "sink_ls", "sink_dropped", "sink_deadletter")

_HOST_SLOTS = [h for h, n in zip(HOSTS, _SLOT_COUNTS) for _ in range(n)]
_LANG_SLOTS = [lang for lang, n in LANGS for _ in range(n)]
_M64 = (1 << 64) - 1

SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def _mix(seed: int, page_id: int) -> int:
    """splitmix64 of (seed, page_id)."""
    z = (seed * 0x9E3779B97F4A7C15 + page_id + 1) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return z ^ (z >> 31)


def _ts(epoch: int) -> str:
    """ISO-8601 UTC; every generated epoch lies in the first week of
    January 2024, so plain integer arithmetic formats it."""
    day, rest = divmod(epoch - BASE_EPOCH, 86_400)
    hour, rest = divmod(rest, 3_600)
    minute, sec = divmod(rest, 60)
    return f"2024-01-{day + 1:02d}T{hour:02d}:{minute:02d}:{sec:02d}Z"


def page(seed: int, page_id: int) -> Dict:
    """All generated fields of one page, plus its two expected event
    messages (the multiline-joined text the parse stage must emit)."""
    h = _mix(seed, page_id)
    host = _HOST_SLOTS[h % 100]
    lang = _LANG_SLOTS[(h >> 8) % 100]
    level = LEVELS[(h >> 16) % 4]
    nbytes = (h >> 20) % 100_000
    latency = (h >> 40) % 5_000
    corrupt = (h >> 56) % 100 < 2
    epoch = BASE_EPOCH + (page_id % 86_400) * 7
    line1 = (f"ts={_ts(epoch)} level={level} host={host} bytes={nbytes} "
             f"msg=\"request /page/{page_id} served\"")
    line2 = CORRUPT_LINE if corrupt else (
        f"ts={_ts(epoch + 1)} level={level} host={host} "
        f"bytes={nbytes // 2} msg=\"render took {latency}ms\"")
    return {
        "url": f"https://{host}/page/{page_id}",
        "epoch": epoch,
        "lang": lang,
        "host": host,
        "corrupt": corrupt,
        "text": "\n".join((line1, CONT1, CONT2, line2, CONT3)),
        "messages": ("\n".join((line1, CONT1, CONT2)),
                     "\n".join((line2, CONT3))),
    }


def expected_sinks(p: Dict) -> Tuple[str, str]:
    """Sinks of a page's two events: the first always parses; the
    second goes to the dead letter when corrupt (first rule wins)."""
    sink = LANG_SINK[p["lang"]]
    return sink, ("sink_deadletter" if p["corrupt"] else sink)


def write_pages(path: str, seed: int, ids: Iterable[int]) -> Counter:
    """Write one parquet file of pages; returns its expected per-sink
    event counts (plus ``events.total``)."""
    cols: Dict[str, List] = {k: [] for k in SCHEMA.names}
    counts: Counter = Counter()
    for i in ids:
        p = page(seed, i)
        cols["url"].append(p["url"])
        cols["warc_ts"].append(p["epoch"] * 1_000_000)
        cols["html"].append(
            f"<html><head><title>page {i}</title></head><body>"
            f"{'lorem ipsum ' * 5}</body></html>".encode())
        cols["text"].append(p["text"])
        cols["lang"].append(p["lang"])
        counts.update(expected_sinks(p))
    counts["events.total"] = 2 * len(cols["url"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(pa.table(cols, schema=SCHEMA), tmp)
    os.replace(tmp, path)   # a watched directory never sees a partial file
    return counts


def count_mismatches(expected: Counter, metrics: Dict[str, int]) -> List[str]:
    """Compare ``run_pipeline`` counters (``events.total`` and
    ``output.<sink>.events.acked``) against the generator's expectation."""
    out = []
    if metrics.get("events.total") != expected["events.total"]:
        out.append(f"events.total {metrics.get('events.total')} != "
                   f"{expected['events.total']}")
    for s in SINKS:
        got = metrics.get(f"output.{s}.events.acked")
        if got != expected[s]:
            out.append(f"{s} {got} != {expected[s]}")
    return out


def sink_mismatches(expected: Counter, got: Dict[str, int]) -> List[str]:
    """Compare per-sink counts read back from written output."""
    return [f"{s} read back {got.get(s, 0)} != {expected[s]}"
            for s in SINKS if got.get(s, 0) != expected[s]]


def message_mismatches(seed: int, rows: Iterable[Tuple[str, int, str, str]],
                       sample_ids: Iterable[int]) -> List[str]:
    """Byte-for-byte check of ``message`` (and the sink) on sample pages.
    ``rows`` are ``(url, msg_idx, message, sink)`` read from the output."""
    want = {}
    for i in sample_ids:
        p = page(seed, i)
        for idx, (msg, sink) in enumerate(zip(p["messages"],
                                              expected_sinks(p))):
            want[(p["url"], idx)] = (msg, sink)
    got = {(u, k): (m, s) for u, k, m, s in rows}
    out = []
    for key, (msg, sink) in want.items():
        if key not in got:
            out.append(f"missing event {key}")
        elif got[key] != (msg, sink):
            out.append(f"event {key}: got {got[key]!r}, want {(msg, sink)!r}")
    extra = set(got) - set(want)
    if extra:
        out.append(f"{len(extra)} unexpected events for sample urls")
    return out
