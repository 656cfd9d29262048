"""Multiline join — the reference's stream joiner re-expressed two ways.

Reference semantics (``libbeat/reader/multiline/``):

- ``pattern`` mode (``pattern.go:43-296``): a line joins the current
  event when ``pred(last_added_line, current)`` holds, where ``after``
  tests the *current* line and ``before`` tests the *last* line against
  the regex (``pattern.go:270-296``), ``negate`` inverts. A non-joining
  line flushes the buffer and starts the next event (``:223-231``). A
  line matching ``flush_pattern`` is added, then the event flushes
  (``:209-220``). ``max_lines`` (default 500, ``:52-58``) drops excess
  lines and the event is truncated.
- ``count`` mode (``counter.go:33``): every N lines form one event.
- ``while_pattern`` mode (``while.go``): consecutive matching lines
  join; a non-matching line is its own event.

Spark mappings:

1. :func:`multiline_join_col` — each row already holds a whole document
   (our pages table): text → ``array<string>`` of joined messages via
   one Arrow-batched pandas UDF. **No shuffle** — per-row work, scales
   linearly with partitions.
2. :func:`multiline_over_rows` — rows are single lines (beats' actual
   shape): lag + running-sum segmentation over a window keyed by the
   source file/url, fully JVM-side (``_join_runs``, which the container
   parser's partial-line join runs too). Costs one shuffle on the
   partition key, unavoidable for cross-row state.

The 5s flush ``timeout`` (``pattern.go:57``) is an arrival-time concept
with no batch meaning; in streaming use a watermark instead.
"""

from __future__ import annotations

import re
from typing import Iterator, List, Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T

__all__ = ["segment_lines", "multiline_join_col", "multiline_over_rows"]

DEFAULT_MAX_LINES = 500  # multiline/pattern.go:52-58


def _compile_pred(pattern: str, negate: bool, match: str):
    rx = re.compile(pattern)

    def pred(last: str, current: str) -> bool:
        line = current if match == "after" else last
        hit = rx.search(line) is not None
        return (not hit) if negate else hit

    return pred


def segment_lines(
    lines: List[str],
    pattern: Optional[str] = None,
    negate: bool = False,
    match: str = "after",
    flush_pattern: Optional[str] = None,
    max_lines: int = DEFAULT_MAX_LINES,
    mode: str = "pattern",
    count_lines: int = 1,
    separator: str = "\n",
) -> List[str]:
    """Pure-Python joiner used inside the pandas UDF and in unit tests.

    Returns the joined messages in order; lines beyond ``max_lines`` per
    event are dropped (messageBuffer semantics).
    """
    if not lines:
        return []

    if mode == "count":
        out = []
        for i in range(0, len(lines), max(count_lines, 1)):
            chunk = lines[i:i + count_lines][:max_lines]
            out.append(separator.join(chunk))
        return out

    if mode == "while_pattern":
        rx = re.compile(pattern or "")
        out: List[str] = []
        buf: List[str] = []
        for ln in lines:
            if (rx.search(ln) is not None) != negate:
                buf.append(ln)
            else:
                if buf:
                    out.append(separator.join(buf[:max_lines]))
                    buf = []
                out.append(ln)
        if buf:
            out.append(separator.join(buf[:max_lines]))
        return out

    # pattern mode
    pred = _compile_pred(pattern or "", negate, match)
    flush_rx = re.compile(flush_pattern) if flush_pattern else None
    out = []
    buf = [lines[0]]
    last = lines[0]
    flushed = flush_rx.search(lines[0]) is not None if flush_rx else False
    for ln in lines[1:]:
        # the flush check precedes the predicate (pattern.go:209-220):
        # a flush-matching line joins the CURRENT event no matter what
        # the continuation predicate says
        is_flush = flush_rx.search(ln) is not None if flush_rx else False
        if flushed or (not is_flush and not pred(last, ln)):
            out.append(separator.join(buf[:max_lines]))
            buf = [ln]
        else:
            buf.append(ln)
        last = ln
        flushed = is_flush
    out.append(separator.join(buf[:max_lines]))
    return out


def multiline_join_col(
    col: Column,
    pattern: Optional[str] = None,
    negate: bool = False,
    match: str = "after",
    flush_pattern: Optional[str] = None,
    max_lines: int = DEFAULT_MAX_LINES,
    mode: str = "pattern",
    count_lines: int = 1,
    line_separator: str = "\n",
) -> Column:
    """Document text column → ``array<string>`` of multiline-joined
    messages (explode downstream to get one row per event)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _join(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        def one(text):
            if text is None:
                return None
            return segment_lines(
                text.split(line_separator), pattern=pattern, negate=negate,
                match=match, flush_pattern=flush_pattern,
                max_lines=max_lines, mode=mode, count_lines=count_lines,
                separator=line_separator)
        for s in it:
            yield s.map(one)

    return _join(col)


def multiline_over_rows(
    df: DataFrame,
    line_col: str,
    partition_cols: List[str],
    order_col: str,
    pattern: str,
    negate: bool = False,
    match: str = "after",
    flush_pattern: Optional[str] = None,
    max_lines: int = DEFAULT_MAX_LINES,
    separator: str = "\n",
    message_col: str = "message",
) -> DataFrame:
    """Line-per-row multiline join, JVM-side (:func:`_join_runs` with
    the pattern as the continuation test): one row per event with
    ``partition_cols``, the first line's ``order_col`` and the joined
    ``message_col``."""
    matched = F.col(line_col).rlike(pattern)
    return _join_runs(
        df, line_col, partition_cols, order_col,
        ~matched if negate else matched,
        F.col(line_col).rlike(flush_pattern) if flush_pattern
        else F.lit(False),
        match=match, separator=separator, max_lines=max_lines,
        message_col=message_col)


def _join_runs(
    df: DataFrame,
    line_col: str,
    partition_cols: Sequence[str],
    order_col: str,
    continues: Column,
    flushes: Column,
    match: str = "after",
    separator: str = "\n",
    max_lines: Optional[int] = None,
    carry: Sequence[str] = (),
    message_col: Optional[str] = None,
) -> DataFrame:
    """The line joiner of every line-per-row reader: multiline, and the
    container parser's partial lines (a partial line continues, a final
    line flushes).

    Segmentation over a window per ``partition_cols`` ordered by
    ``order_col``: a line starts an event when it is the first line,
    the line before it is null or flushed (``flushes``; the flush check
    precedes the predicate, ``pattern.go:209-220``), or it neither
    flushes nor continues. ``continues`` tests the line itself with
    ``match: after`` and the line before it with ``match: before``;
    null counts as false. Segment id = running sum of starts, then one
    groupBy: one shuffle on ``partition_cols`` (the per-file ordering
    guarantee the reference gets from its single-goroutine harvester,
    ``pipeline.go:47-49``).

    Output: ``partition_cols``, the smallest ``order_col``, the first
    ``max_lines`` lines joined by ``separator`` as ``message_col``
    (default ``line_col``), then the first line's value of each
    ``carry`` column.
    """
    w = Window.partitionBy(*partition_cols).orderBy(order_col)
    df = df.withColumns({"__cont": continues, "__flush": flushes})
    tested = F.col("__cont") if match == "after" else F.lag("__cont").over(w)
    joins = F.coalesce(tested | F.col("__flush"), F.lit(False))
    start = (F.lag(line_col).over(w).isNull() | ~joins
             | F.coalesce(F.lag("__flush").over(w), F.lit(False)))
    df = df.withColumn("__start", start.cast("int"))
    df = df.withColumn(
        "__seg",
        F.sum("__start").over(w.rowsBetween(Window.unboundedPreceding, 0)))

    ordered = F.array_sort(F.collect_list(F.struct(
        F.col(order_col).alias("__o"), F.col(line_col).alias("__l"),
        *[F.col(c) for c in carry])))
    lines = F.transform("__p", lambda p: p["__l"])
    if max_lines is not None:
        lines = F.slice(lines, 1, max_lines)
    assigns = {message_col or line_col: F.array_join(lines, separator)}
    assigns.update({c: F.col("__p")[0][c] for c in carry})
    return (df.groupBy(*partition_cols, "__seg")
              .agg(ordered.alias("__p"), F.min(order_col).alias(order_col))
              .withColumns(assigns)
              .drop("__p", "__seg"))
