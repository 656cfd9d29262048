"""Common Event Format (CEF) decoding, pure codegen.

Reference: x-pack filebeat's ``decode_cef`` processor
(``x-pack/filebeat/processors/decode_cef/cef/cef.go:106-176`` and the
ragel grammar it generates from; vectors ported from
``cef/cef_test.go:15-63``). The reference parses with a generated
state machine; here the same grammar is factored into sentinel-marked
regex passes that run entirely inside whole-stage codegen — no Python
worker, and every regex avoids lookaround/backrefs so Java regex and
RE2 (DuckDB) agree byte-for-byte, making the oracle exact.

Grammar recap (cef.go:103-124):

- header: ``CEF:Version|Vendor|Product|Version|ClassID|Name|Severity|``
  — seven ``|``-delimited values; ``\\|`` and ``\\\\`` escape pipe and
  backslash; a raw ``=`` is legal in header values.
- extensions: ``key=value`` pairs separated by a single space. A key
  starts ``[A-Za-z0-9_]`` and continues ``[A-Za-z0-9_.,\\[\\]-]``
  (cef.go:121-124 — looser than the spec, matching practice). The
  value runs until the next space-preceded ``key=`` token; interior
  spaces, raw pipes, tabs and control chars are value content
  (cef_test.go: pipeInMessage, tabMessage).
- value escapes: ``\\=`` ``\\\\`` and the literal sequences ``\\n`` /
  ``\\r`` which decode to LF / CR (cef.go:182-220 replaceEscapes).
  Any other escape (e.g. ``\\|``) is malformed and the *field* is
  dropped with an error, as is a value containing an unescaped ``=``
  (cef_test.go: errorEscapedPipeInExtension,
  errorMultipleMalformedExtensionValues — ``id==old_id`` drops ``id``
  but parsing recovers at ``user=root``).
- trailing ``[ \\t\\r\\n]`` of the *final* value is trimmed; trailing
  spaces of non-final values are preserved minus the single separator
  space (cef_test.go: padded / crlf vectors).

Scale shape: one projection, zero exchanges, zero Python. The decode
is ~10 regexp passes over the message column; duplicate-key last-wins
resolution is a bounded O(n²) array filter (n ≤ pairs per event, the
reference itself caps its map estimate at 50 — cef.go:86-92).

Out of scope (documented, not hidden): the reference's
``recoverExtensions`` second pass that salvages extensions from events
whose *header* is truncated (cef.go:134-141, truncatedHeader vector) —
here an incomplete header yields null header fields and no extensions.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "CEF_HEADER_FIELDS", "cef_header", "cef_header_fields",
    "cef_header_from", "cef_pairs_raw",
    "cef_get", "cef_extensions", "decode_cef", "kv_get",
]

# extension key charset, cef.go:121-124 + hyphenInExtensionKey vector
_KEY = r"[A-Za-z0-9_][A-Za-z0-9_.,\[\]\-]*"

# Header grammar (equivalent regex: ^CEF:(\d+) then six
# \|((?:\\.|[^\\|])*) groups then \|(.*)$ — the oracle replays that
# regex form in RE2). The engine spelling instead stashes the escape
# pairs and SPLITS on the remaining (necessarily unescaped) pipes:
# the 7-group backtracking regex cost ~0.7 ms/row interpreted (HOF
# projections never enter codegen, so it re-ran per field reference),
# while stash+split is three linear passes, staged once per row.
CEF_HEADER_FIELDS = ("cef_version", "device_vendor", "device_product",
                     "device_version", "device_event_class_id", "name",
                     "severity")

# pair-boundary sentinel + backslash stash for the unescape chain, and
# an escaped-pipe sentinel for the header split. Log lines containing
# raw \x01/\x02/\x03 control bytes are undefined input (the
# reference's UTF-8 contract); tab/CR/LF are preserved fine.
_SEP = "\x01"
_STASH = "\x02"
_PIPE = "\x03"

# a value is well-formed iff every backslash opens one of the four
# legal escapes and every ``=`` is escaped (cef.go:182-220 + the
# malformed-vector expectations).
_VALID_VALUE = r"^(?:\\[\\=nr]|[^\\=])*$"


def _unescape(col: Column) -> Column:
    """Left-to-right escape decode, header and extension shared
    (cef.go:182-220): ``\\\\``→``\\``, ``\\n``→LF, ``\\r``→CR, any
    other ``\\x``→``x``. Each regexp_replace pass is itself a
    left-to-right consume, so chaining stash → specials → generic
    reproduces the reference's single-scan pairing exactly
    (``\\\\n`` is backslash-then-n, not an escaped newline)."""
    c = F.regexp_replace(col, r"\\\\", _STASH)
    c = F.regexp_replace(c, r"\\n", "\n")
    c = F.regexp_replace(c, r"\\r", "\r")
    c = F.regexp_replace(c, r"\\(.)", "$1")
    return F.regexp_replace(c, _STASH, "\\\\")


def cef_header_fields(line: Column) -> Column:
    """``array<string>`` of the 8 header slots (``CEF:v``, six header
    values, extension block), escape pairs sentinel-stashed
    (``\\\\``→\\x02, ``\\|``→\\x03) so the split only fires on
    unescaped pipes. Fewer than 8 elements ⇔ incomplete header.
    STAGE this column when deriving more than one thing from it."""
    s = F.regexp_replace(line, r"\\\\", _STASH)
    s = F.regexp_replace(s, r"\\\|", _PIPE)
    return F.split(s, r"\|", 8)


def _hok(fields: Column) -> Column:
    """Complete-header probe: 7 unescaped pipes and a ``CEF:<int>``
    prologue — exactly the set the grammar regex matches."""
    return (F.try_element_at(fields, F.lit(1)).rlike(r"^CEF:\d+$")
            & (F.size(fields) >= F.lit(8)))


def _hfield(fields: Column, i: int) -> Column:
    """One header slot, escapes decoded (finishes the stash chain:
    the ``\\\\`` pass already ran in :func:`cef_header_fields`, so
    decode specials, then the generic escape, then the sentinels)."""
    v = F.try_element_at(fields, F.lit(i))
    c = F.regexp_replace(v, r"\\n", "\n")
    c = F.regexp_replace(c, r"\\r", "\r")
    c = F.regexp_replace(c, r"\\(.)", "$1")
    c = F.regexp_replace(c, _PIPE, "|")
    return F.regexp_replace(c, _STASH, "\\\\")


def cef_header_from(fields: Column) -> Column:
    """Seven-field header struct from a (staged) header-slot array;
    null fields when the header is incomplete, '' device fields
    survive (emptyDeviceFields vector). ``cef_version`` is int
    (cef_test.go expects ``Version == 26``)."""
    ok = _hok(fields)
    ver = F.when(ok, F.substring(
        F.try_element_at(fields, F.lit(1)), 5, 18)).cast("int")
    return F.struct(
        ver.alias("cef_version"),
        *[F.when(ok, _hfield(fields, i)).alias(n)
          for i, n in zip(range(2, 8), CEF_HEADER_FIELDS[1:])],
    )


def cef_header(line: Column) -> Column:
    """Seven-field header struct; null fields when ``line`` is not a
    complete CEF header (see module docstring on truncated headers).
    Composition of :func:`cef_header_fields` + :func:`cef_header_from`
    — stage the fields array yourself when also reading extensions."""
    return cef_header_from(cef_header_fields(line))


def _ext_string(line: Optional[Column],
                fields: Optional[Column] = None) -> Column:
    """The raw extension block: everything after the 7th unescaped
    pipe with sentinels restored (the extension grammar must see the
    original escape bytes — a ``\\|`` inside a value is a malformed
    field there, not a sentinel), and the final value's trailing
    whitespace trimmed (crlf/padded vectors — the rtrim happens once
    on the block, which preserves interior trailing spaces of
    non-final values)."""
    if fields is None:
        fields = cef_header_fields(line)
    ext = F.when(_hok(fields), F.try_element_at(fields, F.lit(8)))
    ext = F.regexp_replace(ext, _PIPE, r"\\|")
    ext = F.regexp_replace(ext, _STASH, r"\\\\")
    return F.regexp_replace(ext, "[ \t\r\n]+$", "")


def cef_pairs_raw(line: Optional[Column],
                  fields: Optional[Column] = None) -> Column:
    """``array<struct<key,value>>`` of well-formed extension pairs, in
    message order, values still ESCAPED (decode late, per selected
    value — see :func:`cef_get`). This is the expression to STAGE in
    its own projection when more than one key / the map is derived
    from it: higher-order functions never enter whole-stage codegen,
    so Catalyst's subexpression elimination does not dedup them —
    multi-referencing an un-staged pairs build re-runs the whole
    tokenize chain per reference (measured 18.4 s → 3.6 s at sf0.1
    for the 4-key decode; same lesson as the cdc_chunks fix).
    ``fields``: a staged :func:`cef_header_fields` column to reuse."""
    marked = F.regexp_replace(_ext_string(line, fields),
                              "( )(" + _KEY + ")=", _SEP + "$2=")
    pieces = F.split(marked, _SEP)
    key = lambda p: F.regexp_extract(p, "^(" + _KEY + ")=", 1)
    rawv = lambda p: F.regexp_replace(p, "^" + _KEY + "=", "")
    good = F.filter(
        pieces,
        lambda p: (key(p) != "") & rawv(p).rlike(_VALID_VALUE))
    return F.transform(
        good,
        lambda p: F.struct(key(p).alias("key"),
                           rawv(p).alias("value")))


def cef_get(line: Optional[Column], key: str,
            pairs: Optional[Column] = None) -> Column:
    """Value of extension ``key`` (last occurrence wins, matching the
    reference's map overwrite — cef.go:96-101); null when absent or
    malformed. Pass ``pairs`` (a STAGED :func:`cef_pairs_raw` column)
    when extracting several keys from the same line so the tokenize
    chain evaluates once per row; the unescape runs only on the
    selected value (keys never contain escapes — the key charset has
    no backslash)."""
    if pairs is None:
        pairs = cef_pairs_raw(line)
    hits = F.filter(pairs, lambda p: p["key"] == F.lit(key))
    # try_: ANSI mode (Spark 4 default) errors on out-of-bounds
    return _unescape(F.try_element_at(hits, F.lit(-1))["value"])


def cef_extensions(line: Optional[Column],
                   pairs: Optional[Column] = None) -> Column:
    """All extensions as ``map<string,string>`` with last-wins
    duplicate resolution (bounded O(n²) positional filter — no
    mapKeyDedupPolicy dependence, pure codegen). ``pairs`` as in
    :func:`cef_get`: a staged raw-pairs column keeps the
    self-referencing dedup filter from re-tokenizing per element."""
    if pairs is None:
        pairs = cef_pairs_raw(line)
    n = F.size(pairs)
    last = F.filter(
        pairs,
        lambda p, i: ~F.exists(
            F.slice(pairs, i + F.lit(2), n),
            lambda q: q["key"] == p["key"]))
    return F.map_from_entries(F.transform(
        last,
        lambda p: F.struct(p["key"].alias("key"),
                           _unescape(p["value"]).alias("value"))))


def decode_cef(df: DataFrame, field: str = "message",
               target_field: str = "cef",
               keys: Optional[Sequence[str]] = None) -> DataFrame:
    """DataFrame form of the x-pack ``decode_cef`` processor
    (``decode_cef.go:99-187``): adds ``target_field`` (header struct),
    ``{target_field}_ext`` (extensions map) and, when ``keys`` is
    given, one ``{target_field}_{key}`` string column per requested
    extension — the projection form that lets Catalyst prune the map
    build entirely when only named keys are used. The raw pairs array
    is staged in its own projection (see :func:`cef_pairs_raw`) so
    multi-key extraction tokenizes once per row."""
    line = F.col(field)
    hstage, pstage = (f"__{target_field}_hfields",
                      f"__{target_field}_pairs_raw")
    out = (df.withColumn(hstage, cef_header_fields(line))
             .withColumn(pstage, cef_pairs_raw(None, F.col(hstage)))
             .withColumn(target_field,
                         cef_header_from(F.col(hstage))))
    sp = F.col(pstage)
    if keys is None:
        out = out.withColumn(f"{target_field}_ext",
                             cef_extensions(None, pairs=sp))
    else:
        out = out.withColumns({f"{target_field}_{k}":
                               cef_get(None, k, pairs=sp)
                               for k in keys})
    return out.drop(hstage, pstage)


def kv_get(col: Column, key: str) -> Column:
    """Logstash-style key/value extraction for space-separated
    ``key=value`` / ``key="quoted value"`` logs (the ``kv`` filter
    shape; distinct from CEF, whose values are unquoted and
    space-spanning). Double-quoted values may contain spaces and
    ``\\"`` escapes; unquoted values end at the next space. Last
    occurrence wins. Pure codegen, RE2∩Java-safe."""
    pat = ('(?:^|[ ])' + key
           + '=("(?:\\\\.|[^"\\\\])*"|[^ ]*)')
    all_vals = F.regexp_extract_all(col, F.lit(pat), F.lit(1))
    v = F.try_element_at(all_vals, F.lit(-1))
    quoted = v.rlike('^".*"$')
    body = v.substr(F.lit(2), F.greatest(F.length(v) - 2, F.lit(0)))
    # one pass \x → x pairs escapes left-to-right (\\" is an escaped
    # backslash followed by the terminator, not an escaped quote)
    unq = F.regexp_replace(body, r"\\(.)", "$1")
    return F.when(quoted, unq).otherwise(v)
