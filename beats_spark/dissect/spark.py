"""Spark integration for the dissect tokenizer.

The reference runs the tokenizer serially per event
(``libbeat/processors/dissect/processor.go:64-120``). ``dissect_columns``
transcribes that find loop (``Dissector._extract``) and its key
assignment (``Dissector.dissect_safe``) into Catalyst string
expressions — ``startswith``, ``position``, ``substr``,
``substring_index``, ``ltrim`` — for every tokenizer ``Dissector``
accepts. The shipped parse and the ``dissect`` processor both run it,
so a dissect plans no Python node and no regex outside the ``|ip``
check, and each find is one forward scan. The keys become typed
top-level columns through plain Catalyst ``cast`` expressions
(``cast_for``), so everything downstream stays JVM-side and prunable.

Config parity (``dissect/config.go:34-47``): ``field`` (default
``message``), ``target_prefix`` (default ``dissect``; empty = root),
``ignore_failure``, ``overwrite_keys``, ``trim_values``, ``trim_chars``.
Parse failure tags ``log.flags += dissect_parsing_error``
(``dissect/processor.go:94-104``).
"""

from __future__ import annotations

import functools
import operator
from typing import Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from .tokenizer import APPEND, INDIRECT, SKIP, Dissector

__all__ = ["dissect_columns", "apply_dissect", "FLAG_PARSING_ERROR",
           "cast_for"]

FLAG_PARSING_ERROR = "dissect_parsing_error"

_SPARK_TYPES = {
    "integer": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "string": T.StringType(),
    "ip": T.StringType(),
}
_HEX_SIGNS = {"0x": "", "-0-x": "-"}
_INFINITIES = ("inf", "+inf", "-inf", "infinity", "+infinity", "-infinity")
_TRIMS = {"left": F.ltrim, "right": F.rtrim, "all": F.trim, "both": F.trim}


def _ip_pattern() -> str:
    """The addresses ``ipaddress.ip_address`` accepts, as a Java regex:
    an IPv4 address of four decimal octets with no leading zero, or an
    IPv6 address of eight hextets, or of at most seven around one
    ``::``, where an IPv4 tail counts as two hextets; IPv6 may end in a
    non-empty ``%scope`` (``IPv6Address._split_scope_id``)."""
    octet = "(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
    v4 = rf"{octet}(?:\.{octet}){{3}}"
    h = "[0-9a-fA-F]{1,4}"

    def tail(n: int) -> str:
        """At most ``n`` hextets, an IPv4 tail counting two."""
        forms = [rf"{h}(?::{h}){{0,{n - 1}}}"] if n else []
        forms += [rf"(?:{h}:){{0,{n - 2}}}{v4}"] if n >= 2 else []
        return f"(?:{'|'.join(forms)})?" if forms else ""

    v6 = [rf"(?:{h}:){{6}}(?:{h}:{h}|{v4})"]
    v6 += [(rf"{h}(?::{h}){{{k - 1}}}" if k else "") + "::" + tail(7 - k)
           for k in range(8)]
    # \z, not $: Java's $ also matches before a final line break
    return rf"^(?:{v4}|(?:{'|'.join(v6)})(?:%[^%/]+)?)\z"


_IP = _ip_pattern()


def cast_for(data_type: str, col: Column) -> Column:
    """Catalyst cast matching dissect's |type conversion
    (``dissect/dissect.go:249-285``, ``tokenizer.convert_value``):
    trailing-space strip, 0x hex ints with an optional minus sign, fall
    back handled by null (the closest declarative analog to
    keep-as-string)."""
    v = F.rtrim(col)
    if data_type in ("integer", "long"):
        tgt = _SPARK_TYPES[data_type]
        # a value that is no decimal may be a hex form: an optional
        # minus, 0x, hex digits. Lower case by translate: lower loads
        # Unicode case tables, ~2 s on a session's first use.
        low = F.translate(v, "XABCDEF", "xabcdef")
        digits = F.substring_index(low, "x", -1)
        # the text before the first x, then every character that is no
        # hex digit: "0x" or "-0-x" for a hex form, whose sign it gives
        signs = F.create_map(*(F.lit(x) for kv in _HEX_SIGNS.items()
                               for x in kv))
        sign = F.try_element_at(signs, F.concat(
            F.substring_index(low, "x", 1),
            F.translate(low, "0123456789abcdef", "")))
        # conv fails the task past 16 significant digits, so longer
        # values are out of range before it runs
        hex_val = F.when(F.length(F.ltrim(digits, F.lit("0"))) <= 16,
                         F.concat(sign, F.conv(digits, 16, 10)))
        return F.coalesce(v.try_cast(tgt), hex_val.try_cast(tgt))
    if data_type in ("float", "double"):
        # Java's parse also reads a type suffix (1.5f, 2d) and hex floats
        # (0x1p3); Python's float, the reference, reads neither
        java_only = ((F.translate(v, "xXfFdD", "") != v)
                     & ~F.translate(F.trim(v), "INFTY", "infty")
                     .isin(*_INFINITIES))
        return F.when(~java_only, v.try_cast(_SPARK_TYPES[data_type]))
    if data_type == "boolean":
        return F.when(v.isin("1", "t", "T", "TRUE", "true", "True"), F.lit(True)).when(
            v.isin("0", "f", "F", "FALSE", "false", "False"), F.lit(False)
        ).otherwise(F.lit(None).cast("boolean"))
    if data_type == "ip":
        return F.when(v.rlike(_IP), v)
    return v.try_cast(_SPARK_TYPES.get(data_type, T.StringType()))


def _typed(dissector: Dissector, key: str, raw: Column) -> Column:
    dt = dissector.data_types.get(key)
    return cast_for(dt, raw) if dt else raw


def _after_run(message: Column, n: Column, pos: Column, delim: str
               ) -> Column:
    """The 1-based position after the whole copies of ``delim`` that
    start at ``pos`` (``dissect.go:151-160``). A copy is replaced by as
    many copies of a marker character, so ltrim strips exactly the run
    unless the text after it starts with that marker; of two markers
    one does not, and its remainder is the longer one."""
    rest = F.substr(message, pos)
    if len(delim) == 1:
        left = F.length(F.ltrim(rest, F.lit(delim)))
    else:
        left = F.greatest(*(
            F.length(F.ltrim(F.replace(rest, F.lit(delim),
                                       F.lit(mark * len(delim))),
                             F.lit(mark)))
            for mark in ("\x00", "\x01")))
    return n + 1 - left


def _find_loop(message: Column, d: Dissector
               ) -> Tuple[Column, List[Column]]:
    """``Dissector._extract`` as Catalyst expressions: whether the
    message dissects, and each field's raw value in token order.

    Positions are 1-based. ``r`` is where the next find starts, counted
    in the message less its first ``shift`` characters: a find searches
    that suffix from ``r`` and its result is the next ``r``, so a failed
    find (0) makes every later one fail too, and the last ``r`` tells
    whether all of them succeeded. Each ``r`` refers to the one before
    it once, so a field's expression holds one find per field before
    it."""
    n = F.length(message)
    by_id = {f.id: f for f in d._fields}
    d0 = d._delims[0]
    r = (F.when(message.startswith(d0), F.lit(1)).otherwise(F.lit(0))
         if d0 else F.lit(1))
    shift = len(d0)
    checks = [n > 0]
    values: List[Optional[Column]] = [None] * len(by_id)
    for i, nxt in enumerate(d._delims[1:]):
        fld = by_id[i]
        if fld.fixed:
            values[i] = F.substr(message, r + shift, F.lit(fld.length))
            checks.append(r + (shift + fld.length) <= n + 1)
            shift += fld.length
        elif nxt:
            suffix = F.substr(message, F.lit(shift + 1)) if shift else message
            # the text from r to the delimiter, which refers to r once
            values[i] = F.substring_index(F.substr(suffix, r), nxt, 1)
            r = F.position(F.lit(nxt), suffix, r)
        else:
            values[i] = F.lit("")
        if d._greedy[i] and nxt:
            # skipped from the copy after the one that ends the field;
            # r restarts in the whole message, so a failure is checked
            checks.append(r > 0)
            r, shift = _after_run(message, n, r + shift + len(nxt), nxt), 0
        else:
            shift += len(nxt)
    tail = by_id.get(len(d._delims) - 1)
    if tail is not None:
        # the tail takes the rest of the message (dissect.go:166-180)
        values[tail.id] = F.substr(message, r + shift)
        if tail.fixed:
            checks.append(r + (shift + tail.length) == n + 1)
    checks.append(r > 0)
    return F.coalesce(functools.reduce(operator.and_, checks),
                      F.lit(False)), values


def dissect_columns(message: Column, dissector: Dissector
                    ) -> Tuple[Column, Dict[str, Column]]:
    """The tokenizer as Catalyst expressions over ``message``: the
    parse-ok predicate and each key's typed column, in
    ``dissector.keys`` order.

    A null or empty message is a parse failure (``dissect.go:57-62``),
    and a failed message carries no key values. The keys are assigned
    as ``dissect_safe`` assigns them, field by field in ordinal order:
    a repeated key takes its last value, an append key joins its values
    with the delimiter before each, and a ``%{&k}`` sets whichever key
    its reference's value names, so every key it could name is a
    ``when(ref == key, value)``. Reference keys are dropped."""
    ok, values = _find_loop(message, dissector)
    trim = _TRIMS.get(dissector.trim_values)
    if trim is not None:
        values = [trim(v, F.lit(dissector.trim_chars)) for v in values]
    fields = dissector._fields
    state: Dict[str, Optional[Column]] = {
        f.key: None for f in fields if f.kind != SKIP}
    for f in fields:
        v = values[f.id]
        if f.kind == SKIP:
            continue
        if f.kind == INDIRECT:
            ref = state[f.key]
            if ref is not None:
                for key, prev in state.items():
                    hit = F.when(ref == key, v)
                    state[key] = hit if prev is None else hit.otherwise(prev)
            continue
        prev = state[f.key]
        if f.kind == APPEND and prev is not None:
            v = F.concat_ws(f.join, prev, v)  # a null prev is skipped
        state[f.key] = v
    popped = set(dissector._reference_keys)
    null = F.lit(None).cast("string")
    return ok, {k: _typed(dissector, k, F.when(
        ok, null if k in popped else state[k])) for k in dissector.keys}


def apply_dissect(
    df: DataFrame,
    tokenizer: str,
    field: str = "message",
    target_prefix: str = "dissect",
    overwrite_keys: bool = False,
    trim_values: str = "none",
    trim_chars: str = " ",
) -> DataFrame:
    """Processor-shaped dissect: extract keys into columns named
    ``{target_prefix}_{key}`` (root columns when prefix empty), cast
    ``|type`` keys, and tag failures in the ``log_flags`` array column,
    all in one ``withColumns`` of ``dissect_columns``.

    The reference nests under ``target_prefix`` in the event map
    (``processor.go:126+``); with a declared schema we flatten to
    prefixed top-level columns so Catalyst prunes per-key.
    """
    d = Dissector(tokenizer, trim_values=trim_values, trim_chars=trim_chars)
    ok, keys = dissect_columns(F.col(field), d)
    columns = {}
    for key, value in keys.items():
        name = f"{target_prefix}_{key}" if target_prefix else key
        if overwrite_keys or name not in df.columns:
            columns[name] = value
    empty = F.array().cast("array<string>")
    existing = F.col("log_flags") if "log_flags" in df.columns else empty
    columns["log_flags"] = F.when(
        ~ok, F.array_union(F.coalesce(existing, empty),
                           F.array(F.lit(FLAG_PARSING_ERROR))),
    ).otherwise(existing)
    return df.withColumns(columns)
