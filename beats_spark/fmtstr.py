"""Event format strings → Columns.

The reference renders ``%{[field]}``-style templates per event
(``libbeat/common/fmtstr/formatevents.go:35-43``): ``%{[a][b]}`` ≡
``%{[a.b]}`` nested access, ``%{[x]:fallback}`` default values,
``%{+yyyy.MM.dd}`` timestamp patterns against ``@timestamp``. Used by
output selectors (``outil/select.go:194-207``) and
``add_formatted_index``.

Compiled here to ``F.concat`` of literal/`col`/`date_format` pieces —
pure Catalyst, so a template of constants folds to a constant exactly
like the reference's ``IsConst`` fast path (``select.go:96-104``).
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import Column, functions as F

__all__ = ["compile_fmtstr"]

_TOKEN_RE = re.compile(r"%\{([^}]*)\}")
_FIELD_RE = re.compile(r"^(\[[^\]]+\])+$")


def _field_path(ref: str) -> str:
    """``[a][b]`` → ``a.b``; ``[a.b]`` stays ``a.b`` (fmtstr accepts both)."""
    parts = re.findall(r"\[([^\]]+)\]", ref)
    return ".".join(parts)


def _joda_date_format(col: Column, pat: str) -> Column:
    """Render a Joda-Time pattern over a timestamp column.

    Joda ``Y`` is ALWAYS year-of-era (≡ ``y`` for CE dates) — never
    week-based — so it maps to ``y`` unconditionally, quote-aware
    (literal text in ``'…'`` is untouched). Joda's week fields can't
    go through ``date_format`` at all (Spark ≥3 rejects ``w``/``Y``
    week patterns), so runs of ``w`` (week of weekyear) and ``x``
    (weekyear) are composed from ``weekofyear`` and the ISO week-year
    (the year of that week's Thursday), zero-padded to the run
    length."""
    segments = []  # (kind, text) kind: 'fmt' | 'week' | 'weekyear'
    cur = []
    in_quote = False
    i = 0
    while i < len(pat):
        ch = pat[i]
        if ch == "'":
            in_quote = not in_quote
            cur.append(ch)
            i += 1
            continue
        if not in_quote and ch in ("w", "x"):
            j = i
            while j < len(pat) and pat[j] == ch:
                j += 1
            if cur:
                segments.append(("fmt", "".join(cur)))
                cur = []
            segments.append(("week" if ch == "w" else "weekyear", j - i))
            i = j
            continue
        if not in_quote and ch == "Y":
            ch = "y"
        cur.append(ch)
        i += 1
    if cur:
        segments.append(("fmt", "".join(cur)))

    # ISO week fields: Monday-first dow, week-year = year of the
    # week's Thursday (Joda uses ISO week rules)
    iso_dow = ((F.dayofweek(col) + 5) % 7) + 1
    thursday = F.date_sub(col.cast("date"), iso_dow - 4)

    def num(c: Column, n: int, two_digit_year: bool = False) -> Column:
        # Joda numeric fields: the letter count is the MINIMUM digit
        # count (never truncate — Spark's lpad would), except the
        # two-letter year forms which mean "last two digits"
        s = c.cast("string")
        if two_digit_year and n == 2:
            # last two digits, zero-padded (Joda 'xx' prints '05' for
            # year 5; bare substring would drop the pad)
            return F.lpad(F.substring(s, -2, 2), 2, "0")
        if n <= 1:
            return s
        return F.when(F.length(s) < n, F.lpad(s, n, "0")).otherwise(s)

    pieces = []
    for kind, v in segments:
        if kind == "fmt":
            pieces.append(F.date_format(col, v))
        elif kind == "week":
            pieces.append(num(F.weekofyear(col), v))
        else:
            pieces.append(num(F.year(thursday), v, two_digit_year=True))
    if len(pieces) == 1:
        return pieces[0]
    return F.concat(*pieces)


def compile_fmtstr(template: str, timestamp_field: str = "@timestamp",
                   columns: "Optional[list]" = None) -> Column:
    """Template → string Column. Missing fields without a default render
    the whole template to null (the reference errors per event and the
    selector falls through to the next rule — null gives the same
    when-chain fall-through). With ``columns`` (the frame's column
    list), a reference to an ABSENT column compiles to null instead of
    an analysis error — so ``%{[gone]:fallback}`` degrades to the
    fallback like the reference's missing-key default."""
    pieces = []
    pos = 0
    for m in _TOKEN_RE.finditer(template):
        if m.start() > pos:
            pieces.append(F.lit(template[pos:m.start()]))
        token = m.group(1)
        if token.startswith("+"):
            # Joda pattern over the event timestamp (Y→y always,
            # week fields composed manually — see _joda_date_format;
            # a Joda %{+YYYY.ww} on 2025-12-29 must render 2025, not
            # the week-year 2026)
            pieces.append(_joda_date_format(F.col(timestamp_field),
                                            token[1:]))
        else:
            default: Optional[str] = None
            ref = token
            if ":" in token:
                ref, default = token.split(":", 1)
            path = _field_path(ref) if _FIELD_RE.match(ref) else ref
            if path == "@timestamp":
                # the literal event-timestamp reference renders in
                # ISO8601 with millis + Z (formatevents_test.go:
                # "2015-05-01T20:12:34.000Z"), not the engine's
                # default timestamp-to-string cast; it reads the
                # configured timestamp column
                col = F.date_format(F.col(timestamp_field),
                                    "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
            else:
                # engine-wide flat-column convention (processors/core.py):
                # a beats nested path a.b is the column a_b
                name = path.replace(".", "_")
                if columns is not None and name not in columns:
                    col = F.lit(None).cast("string")
                else:
                    col = F.col(name).cast("string")
            pieces.append(F.coalesce(col, F.lit(default)) if default is not None else col)
        pos = m.end()
    if pos < len(template):
        pieces.append(F.lit(template[pos:]))
    if not pieces:
        return F.lit("")
    if len(pieces) == 1:
        return pieces[0]
    return F.concat(*pieces)
