"""Pure-Python dissect tokenizer, semantically faithful to the reference
implementation (``libbeat/processors/dissect/``):

- tokenizer grammar:          ``dissect/parser.go:42-103``, ``dissect/const.go``
- field kinds (normal / skip ``%{}`` / named-skip ``%{?k}`` / pointer
  ``%{*k}`` / indirect ``%{&k}`` / append ``%{+k}`` with ``/ordinal``):
  ``dissect/field.go:112-334``
- fixed-length keys ``%{k#N}`` and greedy padding ``%{k->}``:
  ``dissect/dissect.go:103-180``
- extraction algorithm (first delimiter hard-match at offset 0, greedy
  lookahead skip of repeated delimiters, tail capture):
  ``dissect/dissect.go:100-180``
- trim modes:                 ``dissect/trim.go``, ``dissect/config.go:25-47``
- type-conversion suffix ``|integer|long|float|double|boolean|ip`` with
  hex-int support and fall-back-to-string on failure:
  ``dissect/dissect.go:238-285``
- validation:                 ``dissect/validate.go:24-41``

The class is deliberately Spark-free: it is the reference that
``beats_spark.dissect.spark.dissect_columns`` transcribes into Catalyst
expressions (``_extract``'s find loop and ``dissect_safe``'s key
assignment), and the tests hold that form to it. The loop is
``str.find`` based — no regex at extraction time.
"""

from __future__ import annotations

import ipaddress
import re
import string
from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional, Tuple

__all__ = [
    "Dissector",
    "DissectError",
    "TokenizerError",
    "make_trimmer",
]

# `(?s)(.*?)%\{([^}]*?)\}` — pairs of (delimiter, key), dissect/const.go:63
_DELIM_RE = re.compile(r"(?s)(.*?)%\{([^}]*?)\}")
# key name + optional /ordinal + optional #length + optional -> + optional |type
# dissect/const.go:64-69
_SUFFIX_RE = re.compile(
    r"(.+?)"
    r"(?:/(\d{1,2}))?"
    r"(?:#(\d{1,2}))?"
    r"(->)?"
    r"(?:\|([A-Za-z]*))?$"
)

_DATA_TYPES = {"integer", "long", "float", "double", "string", "boolean", "ip"}
_NUMERIC = {"integer", "long", "float", "double"}
_DEFAULT_JOIN = " "

# kinds
NORMAL, SKIP, NAMED_SKIP, POINTER, INDIRECT, APPEND = range(6)


class TokenizerError(ValueError):
    """Invalid tokenizer pattern (config-time error)."""


class DissectError(ValueError):
    """Runtime parse failure for one input string."""


@dataclass
class _Field:
    id: int                     # token-order position
    kind: int
    key: str
    ordinal: int = 0
    length: int = 0             # fixed length, 0 = variable
    greedy: bool = False
    data_type: str = ""
    join: str = _DEFAULT_JOIN   # append join = preceding delimiter (field.go:318-324)

    @property
    def fixed(self) -> bool:
        return self.length > 0

    @property
    def saveable(self) -> bool:
        return self.kind in (NORMAL, INDIRECT, APPEND)


def _parse_key(raw: str) -> Tuple[str, str, int, int, bool]:
    """Split a raw key into (key, data_type, ordinal, length, greedy)."""
    m = _SUFFIX_RE.match(raw)
    if m is None:
        raise TokenizerError(f"invalid field name: {raw!r}")
    key = m.group(1)
    ordinal = int(m.group(2)) if m.group(2) else 0
    length = int(m.group(3)) if m.group(3) else 0
    greedy = m.group(4) is not None
    data_type = m.group(5) or ""
    return key, data_type, ordinal, length, greedy


def _new_field(fid: int, raw_key: str, prev_delim: str) -> _Field:
    if raw_key == "":
        return _Field(id=fid, kind=SKIP, key="")
    key, data_type, ordinal, length, greedy = _parse_key(raw_key)
    # `|` with no type name → error (field.go:244-247)
    if raw_key.endswith("|"):
        raise TokenizerError("missing data type")
    if data_type and data_type not in _DATA_TYPES:
        raise TokenizerError(f"invalid data type: {data_type!r}")
    if key.startswith("+&") or key.startswith("&+"):
        raise TokenizerError("mixed prefix `&+`/`+&`")
    if key.startswith("?"):
        return _Field(id=fid, kind=NAMED_SKIP, key=key[1:], length=length)
    if key.startswith("*"):
        return _Field(id=fid, kind=POINTER, key=key[1:], length=length)
    if key.startswith("+"):
        join = prev_delim if prev_delim else _DEFAULT_JOIN
        return _Field(id=fid, kind=APPEND, key=key[1:], ordinal=ordinal,
                      length=length, greedy=greedy, join=join)
    if key.startswith("&"):
        return _Field(id=fid, kind=INDIRECT, key=key[1:], data_type=data_type,
                      length=length)
    return _Field(id=fid, kind=NORMAL, key=key, ordinal=ordinal,
                  length=length, greedy=greedy, data_type=data_type)


def make_trimmer(trim_values: str, trim_chars: str = " "):
    """Return a (s, start, end) -> (start, end) trimmer or None.

    trim_values in {none, left, right, all, both} (config.go:60-75).
    """
    mode = (trim_values or "none").lower()
    if mode in ("", "none"):
        return None
    left = mode in ("left", "all", "both")
    right = mode in ("right", "all", "both")
    if mode not in ("left", "right", "all", "both"):
        raise TokenizerError(f"unsupported trim_values {trim_values!r}")
    chars = set(trim_chars)

    def trim(s: str, start: int, end: int) -> Tuple[int, int]:
        if left:
            while start < end and s[start] in chars:
                start += 1
        if right:
            while start < end and s[end - 1] in chars:
                end -= 1
        return start, end

    return trim


def _parse_bool(v: str) -> bool:
    # Go strconv.ParseBool accepted set
    if v in ("1", "t", "T", "TRUE", "true", "True"):
        return True
    if v in ("0", "f", "F", "FALSE", "false", "False"):
        return False
    raise ValueError(f"not a bool: {v!r}")


def _str_to_int(v: str) -> int:
    # base 16 after a 0x/0X prefix, which a minus sign may precede, else
    # base 10 (dissect.go:239-247)
    neg = v.startswith("-")
    body = v[1:] if neg else v
    if body.startswith(("0x", "0X")):
        digits = body[2:]
        if not digits or not set(digits) <= set(string.hexdigits):
            raise ValueError(f"not a hex int: {v!r}")
        return -int(digits, 16) if neg else int(digits, 16)
    return int(v, 10)


def convert_value(data_type: str, v: str):
    """Typed conversion with fall-back-to-string on failure
    (dissect.go:249-285). Returns the converted value or the original
    string if conversion fails. Numbers are ASCII without ``_``
    separators, as Go's ``strconv`` reads a base-10 number; Python's
    ``int``/``float`` would take both."""
    try:
        s = v.rstrip(" ")
        if data_type == "string":
            return s
        if data_type in _NUMERIC and ("_" in s or not s.isascii()):
            return v
        if data_type in ("integer", "long"):
            n = _str_to_int(s)
            if data_type == "integer" and not (-(2 ** 31) <= n < 2 ** 31):
                return v
            if data_type == "long" and not (-(2 ** 63) <= n < 2 ** 63):
                return v
            return n
        if data_type in ("float", "double"):
            return float(s)
        if data_type == "boolean":
            return _parse_bool(s)
        if data_type == "ip":
            ipaddress.ip_address(s)
            return s
    except (ValueError, TypeError):
        return v
    return v


class Dissector:
    """Compiled dissect pattern.

    >>> Dissector("%{a} %{b}").dissect("hello world")
    {'a': 'hello', 'b': 'world'}
    """

    def __init__(self, tokenizer: str, trim_values: str = "none",
                 trim_chars: str = " "):
        self.raw = tokenizer
        self._trim = make_trimmer(trim_values, trim_chars)
        self.trim_values = (trim_values or "none").lower()
        self.trim_chars = trim_chars

        matches = list(_DELIM_RE.finditer(tokenizer))
        if not matches:
            raise TokenizerError("invalid dissect tokenizer")

        delims: List[str] = []
        fields: List[_Field] = []
        pos = 0
        for fid, m in enumerate(matches):
            d = m.group(1)
            f = _new_field(fid, m.group(2), d)
            fields.append(f)
            delims.append(d)
            pos = m.end()
        if pos < len(tokenizer):
            delims.append(tokenizer[pos:])

        # greedy field marks its *preceding* delimiter (parser.go:60-62)
        greedy = [False] * len(delims)
        for i, f in enumerate(fields):
            if f.greedy:
                greedy[i] = True

        # append fields sort by ordinal so joins go left→right
        # (parser.go:82-88); Python sort is stable, preserving token order
        # among equal ordinals.
        fields_sorted = sorted(fields, key=lambda f: f.ordinal)
        id_map = {f.id: i for i, f in enumerate(fields_sorted)}

        self._delims = delims
        self._greedy = greedy
        self._fields = fields_sorted           # ordinal-sorted
        self._id_map = id_map                  # token-id -> sorted index
        self._n_fields = len(fields)
        self._reference_keys = [f.key for f in fields_sorted if not f.saveable]
        self.data_types: Dict[str, str] = {
            f.key: f.data_type for f in fields_sorted
            if f.saveable and f.data_type
        }
        self.keys: List[str] = sorted({
            f.key for f in fields_sorted
            if f.saveable and f.kind != INDIRECT
        })

        # validate.go:24-41 — every indirect field needs a reference
        refs = set(self._reference_keys)
        for f in fields_sorted:
            if f.kind == INDIRECT and f.key not in refs:
                raise TokenizerError(f"missing reference for key '{f.key}'")

    # -- extraction ---------------------------------------------------

    def _extract(self, s: str) -> Optional[List[Tuple[int, int]]]:
        """Positions per token id, or None on parse failure
        (dissect.go:100-180)."""
        delims = self._delims
        n = len(s)
        positions: List[Tuple[int, int]] = [(0, 0)] * self._n_fields

        d0 = delims[0]
        if d0:
            if not s.startswith(d0):
                return None
            offset = len(d0)
        else:
            offset = 0

        i = 0
        for di in range(len(delims) - 1):
            start = offset
            fld = self._fields[self._id_map[i]]
            nxt = delims[di + 1]
            if fld.fixed:
                end = offset + fld.length
                if end > n:
                    return None
            else:
                end = s.find(nxt, offset) if nxt else offset
                if end == -1:
                    return None
            offset = end
            if self._greedy[di] and nxt:
                # consume repeated WHOLE occurrences of the next
                # delimiter (dissect.go:151-160 advances by delimiter
                # length, not one character)
                step = len(nxt)
                while s.startswith(nxt, offset + step):
                    offset += step
            positions[i] = (start, end)
            offset += len(nxt)
            i += 1

        # tail field (dissect.go:166-180); a trailing literal delimiter
        # consumed the last slot → Go's map lookup yields a zero-value
        # token (not fixed, nothing to capture) — no checks apply
        fld = (self._fields[self._id_map[i]]
               if i in self._id_map else None)
        if fld is not None and fld.fixed and offset + fld.length != n:
            return None
        if offset < n and i < self._n_fields:
            positions[i] = (offset, n)
        return positions

    # -- public API ---------------------------------------------------

    def dissect(self, s: str) -> Dict[str, str]:
        """String → {key: value}; raises DissectError on failure
        (dissect.go:57-77)."""
        m = self.dissect_safe(s)
        if m is None:
            if not s:
                raise DissectError("empty string provided")
            raise DissectError(f"could not dissect {s!r} with {self.raw!r}")
        return m

    def dissect_convert(self, s: str) -> Dict[str, object]:
        """Like dissect() but applies ``|type`` conversions; no trimming,
        matching DissectConvert (dissect.go:79-97, 198-223)."""
        if not s:
            raise DissectError("empty string provided")
        positions = self._extract(s)
        if positions is None:
            raise DissectError(f"could not dissect {s!r} with {self.raw!r}")

        lookup: Dict[str, str] = {}
        m: Dict[str, str] = {}
        mc: Dict[str, object] = {}
        for f in self._fields:
            a, b = positions[f.id]
            v = s[a:b]
            k = f.kind
            if k == SKIP:
                lookup[f.key] = v
                continue
            if k in (NAMED_SKIP, POINTER):
                m[f.key] = v
                lookup[f.key] = v
                continue
            if k == INDIRECT:
                ref = m.get(f.key)
                if ref is not None:
                    m[ref] = v
                key = lookup.get(f.key, f.key)
                val = m.get(key, "")
                mc[key] = convert_value(f.data_type, val) if f.data_type else val
                continue
            if k == APPEND:
                prev = m.get(f.key)
                m[f.key] = v if prev is None else prev + f.join + v
            else:
                m[f.key] = v
            key = f.key
            val = m.get(key, "")
            mc[key] = convert_value(f.data_type, val) if f.data_type else val
        for k in self._reference_keys:
            mc.pop(k, None)
        return mc

    def dissect_safe(self, s: Optional[str]) -> Optional[Dict[str, str]]:
        """None on failure instead of raising — the pandas-UDF hot path."""
        if not s:
            return None
        positions = self._extract(s)
        if positions is None:
            return None
        if self._trim is not None:
            positions = [self._trim(s, a, b) for a, b in positions]
        m: Dict[str, str] = {}
        for f in self._fields:
            a, b = positions[f.id]
            v = s[a:b]
            k = f.kind
            if k == SKIP:
                continue
            if k == INDIRECT:
                ref = m.get(f.key)
                if ref is not None:
                    m[ref] = v
                continue
            if k == APPEND:
                prev = m.get(f.key)
                m[f.key] = v if prev is None else prev + f.join + v
                continue
            m[f.key] = v  # NORMAL / NAMED_SKIP / POINTER
        for k in self._reference_keys:
            m.pop(k, None)
        return m
