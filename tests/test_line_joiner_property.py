"""The line-per-row joiners against Python models, over a few hundred
random files in one frame: ``multiline_over_rows`` against
``segment_lines`` per file, and ``parse_container``'s partial-line
join against the rule of ``docker_json.go``'s Next loop (a line starts
an event when it is its file's first line or the line before it was
final; the event keeps its first part's columns). One Spark query per
test function.

A file may hold one row whose ``line_no`` is null: the window orders
it first, and its event reports the smallest non-null ``line_no``."""

import json
import random
from datetime import datetime

import pytest

from beats_spark.functions.multiline import multiline_over_rows, segment_lines
from beats_spark.functions.parsers import parse_container

SEED = 20261019
N_FILES = 300


def _numbered(rnd, lines):
    """(line_no, line) pairs in file order: distinct, increasing, with
    gaps; one file in four gets a null ``line_no`` on a random line,
    which then sorts first."""
    nos = sorted(rnd.sample(range(1, 10 * len(lines) + 1), len(lines)))
    rows = list(zip(nos, lines))
    if rnd.random() < 0.25:
        i = rnd.randrange(len(rows))
        rows.insert(0, (None, rows.pop(i)[1]))
    return rows


def _in_order(rows):
    return sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0))


def _by_file(df, value):
    """file → [value(row)] ordered by line_no, nulls first."""
    got = {}
    for r in sorted(df.collect(), key=lambda r: (
            r["path"], r["line_no"] is not None, r["line_no"] or 0)):
        got.setdefault(r["path"], []).append(value(r))
    return got


_KINDS = [
    lambda rnd: f"start {rnd.randint(0, 99)}",          # event start
    lambda rnd: f"{rnd.randint(2000, 2030)} stamped",   # digit start
    lambda rnd: f"  cont {rnd.randint(0, 9)}",          # continuation
    lambda rnd: f"\tat frame{rnd.randint(0, 9)}",       # continuation
    lambda rnd: f"part {rnd.randint(0, 9)} \\",         # before-mode cont
    lambda rnd: f"stmt {rnd.randint(0, 9)};",           # before-mode end
    lambda rnd: f"END {rnd.randint(0, 9)}",             # flush line
    lambda rnd: "",                                     # empty line
]


@pytest.fixture(scope="module")
def line_files():
    rnd = random.Random(SEED)
    return {f"f{i:03d}": _numbered(rnd, [
        rnd.choice(_KINDS)(rnd) for _ in range(rnd.randint(1, 14))])
        for i in range(N_FILES)}


@pytest.mark.parametrize("cfg", [
    dict(pattern=r"^\s", match="after"),
    dict(pattern=r"^\s", match="after", flush_pattern=r"^END",
         max_lines=3),
    dict(pattern=r"^\d", negate=True, match="after",
         flush_pattern=r"^END"),
    dict(pattern=r"\\$", match="before", max_lines=2),
    dict(pattern=r";$", negate=True, match="before",
         flush_pattern=r"^END", max_lines=4),
], ids=["after", "after-flush-max3", "after-negate-flush",
        "before-max2", "before-negate-flush-max4"])
def test_multiline_over_rows_matches_segment_lines(spark, line_files, cfg):
    df = spark.createDataFrame(
        [(p, no, line) for p, rows in line_files.items()
         for no, line in rows],
        "path string, line_no long, line string")
    out = multiline_over_rows(df, "line", ["path"], "line_no", **cfg)
    assert out.columns == ["path", "line_no", "message"]
    want = {p: segment_lines([line for _, line in _in_order(rows)], **cfg)
            for p, rows in line_files.items()}
    assert _by_file(out, lambda r: r["message"]) == want


def _container_line(rnd, no):
    """(raw line, parsed) with parsed = (message, stream, time, partial),
    or None for a line the parser drops."""
    stream = rnd.choice(["stdout", "stderr"])
    ts = f"2024-01-02T03:{no % 60:02d}:{rnd.randint(0, 59):02d}"
    when = datetime.fromisoformat(ts)
    text = rnd.choice(["", "x", "two words", f"msg {no}", " pad "])
    kind = rnd.random()
    if kind < 0.45:
        tag = rnd.choice("PF")
        return (f"{ts}Z {stream} {tag} {text}",
                (text, stream, when, tag == "P"))
    if kind < 0.85:
        partial = rnd.random() < 0.4
        rec = {"log": text + ("" if partial else "\n"), "stream": stream}
        if rnd.random() < 0.8:
            rec["time"] = ts + "Z"
        else:
            when = None
        return json.dumps(rec), (text, stream, when, partial)
    return rnd.choice(["not a container line", "{broken json"]), None


def test_parse_container_join_matches_partial_line_model(spark):
    rnd = random.Random(SEED + 1)
    rows, want = [], {}
    for i in range(N_FILES):
        path = f"c{i:03d}"
        raw = [_container_line(rnd, k) for k in range(rnd.randint(1, 12))]
        numbered = _numbered(rnd, raw)
        rows += [(path, no, line, f"off-{path}-{no}")
                 for no, (line, _) in numbered]
        events, open_ = [], None
        for no, (_, parsed) in _in_order(numbered):
            if parsed is None:
                continue
            text, stream, when, partial = parsed
            if open_ is None:
                open_ = [no, text, stream, when, f"off-{path}-{no}", [no]]
            else:
                open_[1] += text
                open_[5].append(no)
            if not partial:
                events.append(open_)
                open_ = None
        if open_ is not None:
            events.append(open_)
        for e in events:
            nos = [n for n in e[5] if n is not None]
            e[0] = min(nos) if nos else None
            del e[5]
        if events:
            want[path] = [tuple(e) for e in events]
    df = spark.createDataFrame(
        rows, "path string, line_no long, message string, offset string")
    out = parse_container(df)
    assert out.columns == ["path", "line_no", "message", "offset",
                           "container_stream", "container_time"]
    got = _by_file(out, lambda r: (
        r["line_no"], r["message"], r["container_stream"],
        r["container_time"], r["offset"]))
    assert got == want
