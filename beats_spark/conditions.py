"""Condition compiler: Beats condition configs → Catalyst ``Column``
boolean expressions.

The reference has one shared condition AST used by ``when:`` wrappers,
``if/then/else`` and output selectors (grammar
``libbeat/conditions/conditions.go:30-40``, dispatch ``:55-99``). Each
condition becomes a boolean ``Column`` here — fully JVM-side, so
Catalyst folds, pushes down and short-circuits them for free (which is
the reference's own hand-rolled optimization set, SURVEY.md §4).

Semantics parity:

- ``equals`` — typed equality over string/int/bool; multiple fields are
  conjunctive (``conditions/equals.go:30-94``).
- ``contains`` — substring; string-array fields match if *any* element
  contains (``conditions/matcher.go:56-88``).
- ``regexp`` — RE2 match, unanchored (``matcher.go:75``). Spark rlike
  uses Java regex — a superset of RE2 for the patterns we accept.
- ``range`` — ``gte/gt/lte/lt`` numeric comparisons, conjunctive per and
  across fields (``conditions/range.go:28-110``).
- ``has_fields`` — all listed keys exist (``has_fields.go:31``); with a
  declared schema this is plan-time truth + per-row ``isNotNull``.
- ``network`` — IP-in-CIDR / named networks; values are OR'd within a
  field, fields are AND'd (``conditions/network.go:44-139``). The
  address is read by one Catalyst parse with Go's ``net.ParseIP``
  rules (:func:`_ip_words`) and tested against a literal table of
  networks; no Python runs.
- ``contains``, ``regexp``, ``range`` and ``network`` are false on a
  null field, as Go's are on a missing one.
- ``and`` / ``or`` / ``not`` — composition (``and.go``, ``or.go``,
  ``not.go``).
"""

from __future__ import annotations

import ipaddress
from typing import Any, List, Mapping, Sequence

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

__all__ = ["compile_condition", "ip_to_long"]


# ---------------------------------------------------------------- network

def ip_to_long(col: Column) -> Column:
    """Dotted-quad IPv4 string → int64, JVM-side (no UDF)."""
    p = F.split(col, r"\.")
    return (
        p.getItem(0).try_cast("long") * F.lit(16777216)
        + p.getItem(1).try_cast("long") * F.lit(65536)
        + p.getItem(2).try_cast("long") * F.lit(256)
        + p.getItem(3).try_cast("long")
    )


# The address forms Go's net.ParseIP (Go >= 1.17) accepts: a dotted
# quad without leading zeros, or an IPv6 form without a zone. The IPv6
# class: full 8-group, '::'-compressed with correct group counts, and
# the embedded-IPv4 tails (full 6-group+v4 and compressed variants).
# The grok IPV6 class is deliberately looser (log-scraping) and accepts
# strings like '1:2:3' that ParseIP rejects. `\z`, not `$`: Java's `$`
# also matches before a final line terminator.
_OCTET = r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
_V4 = rf"({_OCTET}\.){{3}}{_OCTET}"
_H = "[0-9A-Fa-f]{1,4}"
_V6 = ("("
       f"({_H}:){{7}}{_H}"
       f"|({_H}:){{1,7}}:"
       f"|({_H}:){{1,6}}:{_H}"
       f"|({_H}:){{1,5}}(:{_H}){{2}}"
       f"|({_H}:){{1,4}}(:{_H}){{3}}"
       f"|({_H}:){{1,3}}(:{_H}){{4}}"
       f"|({_H}:){{1,2}}(:{_H}){{5}}"
       f"|{_H}:(:{_H}){{6}}"
       f"|:((:{_H}){{1,7}}|:)"
       # embedded IPv4 tail: full 6-group form, then '::' forms
       # with m prefix groups and k infix groups, m+k <= 5 exact
       f"|({_H}:){{6}}{_V4}"
       f"|::({_H}:){{0,5}}{_V4}"
       f"|({_H}:){{1}}:({_H}:){{0,4}}{_V4}"
       f"|({_H}:){{2}}:({_H}:){{0,3}}{_V4}"
       f"|({_H}:){{3}}:({_H}:){{0,2}}{_V4}"
       f"|({_H}:){{4}}:({_H}:){{0,1}}{_V4}"
       f"|({_H}:){{5}}:{_V4}"
       ")")
_IPV6_RE = rf"^{_V6}\z"
_IP_RE = rf"^({_V4}|{_V6})\z"


def _let(value: Column, body) -> Column:
    """``body`` over ``value`` evaluated once per row: a lambda
    variable is bound to it, where a Python reference would copy the
    expression into every place ``body`` uses it."""
    return F.transform(F.array(value), body)[0]


def _hextets(half: Column) -> Column:
    """The hex digits of one side of a ``::``: each group padded to 4
    digits, a dotted tail read as two groups."""
    return F.concat_ws("", F.transform(
        F.array_remove(F.split(half, ":"), ""),
        lambda g: F.when(g.contains("."), F.concat_ws("", F.transform(
            F.split(g, r"\."), lambda o: F.lpad(F.conv(o, 10, 16), 2, "0"))))
        .otherwise(F.lpad(g, 4, "0"))))


def _is_ip(col: Column) -> Column:
    """Whether ``net.ParseIP`` reads ``col`` as an address: where
    :func:`_ip_words` is not null, without building the words."""
    return col.cast("string").rlike(_IP_RE)


def _ip_words(col: Column) -> Column:
    """The address in ``col`` as Go's ``net.ParseIP`` reads it: four
    32-bit words, a dotted quad held as ``::ffff:a.b.c.d``; null for
    anything that is not an address."""
    s = col.cast("string")
    v6 = F.when(_is_ip(s), F.when(s.contains(":"), s)
                .otherwise(F.concat(F.lit("::ffff:"), s)))
    # the digits right of '::' right-aligned in 32, the left ones
    # written over their start: '::' expands to the zeros between
    hex32 = _let(v6, lambda t: F.when(t.isNotNull(), F.overlay(
        F.lpad(_hextets(F.substring_index(t, "::", -1)), 32, "0"),
        _hextets(F.substring_index(t, "::", 1)), 1)))
    return _let(hex32, lambda h: F.when(h.isNotNull(), F.array(*[
        F.conv(F.substring(h, 8 * i + 1, 8), 16, 10).cast("long")
        for i in range(4)])))


def _is4(w: Column) -> Column:
    """Go's ``To4`` gives these words 4 bytes: ``::ffff:a.b.c.d``."""
    return (w[0] == 0) & (w[1] == 0) & (w[2] == 0xFFFF)


# named networks (conditions/network.go:44-55): the addresses Go's
# net.IP predicates hold, as CIDRs; the scope-nibble multicast classes
# are (value, mask) pairs
_NAMED = {
    "loopback": ["127.0.0.0/8", "::1/128"],
    "unspecified": ["0.0.0.0/32", "::/128"],
    "link_local_unicast": ["169.254.0.0/16", "fe80::/10"],
    "link_local_multicast": ["224.0.0.0/24", ("ff02::", "ff0f::")],
    "interface_local_multicast": [("ff01::", "ff0f::")],
    "multicast": ["224.0.0.0/4", "ff00::/8"],
    "private": ["10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16",
                "fd00::/8"],
}
# named networks holding every address outside these: IsGlobalUnicast,
# and public = !isLocalOrPrivate (network.go:237-245)
_OUTSIDE = {
    "unicast": ["255.255.255.255/32", "unspecified", "loopback",
                "multicast", "link_local_unicast"],
    "public": ["255.255.255.255/32", "private", "loopback",
               "unspecified", "link_local_unicast",
               "link_local_multicast", "interface_local_multicast"],
}
_OUTSIDE["global_unicast"] = _OUTSIDE["unicast"]


def _net_row(spec) -> tuple:
    """One network → ``(v4, mask words, value words)``. Go's
    ``IPNet.Contains`` family rule: a network whose number ``To4``
    reads as IPv4 holds exactly the addresses it reads so, by their
    last word; any other holds only the rest."""
    if isinstance(spec, tuple):
        value, mask = (int(ipaddress.IPv6Address(a)) for a in spec)
    else:
        net = ipaddress.ip_network(spec, strict=False)
        if net.version == 4:
            net = ipaddress.IPv6Network(
                f"::ffff:{net.network_address}/{96 + net.prefixlen}")
        value, mask = int(net.network_address), int(net.netmask)
    v4 = value >> 32 == 0xFFFF
    if v4:
        value, mask = value & 0xFFFFFFFF, mask & 0xFFFFFFFF

    def words(n: int) -> List[int]:
        return [(n >> s) & 0xFFFFFFFF for s in (96, 64, 32, 0)]
    return v4, words(mask), words(value)


def _in_table(w: Column, specs) -> Column:
    """Words ``w`` in any network of ``specs`` (CIDRs, names of
    ``_NAMED``): one ``exists`` over a literal table."""
    rows = [_net_row(n) for s in specs for n in _NAMED.get(s, [s])]
    table = F.array(*[
        F.struct(F.lit(v4).alias("v4"),
                 F.array(*map(F.lit, m)).cast("array<bigint>").alias("m"),
                 F.array(*map(F.lit, v)).cast("array<bigint>").alias("v"))
        for v4, m, v in rows])
    is4 = _is4(w)
    return F.exists(table, lambda r: (r["v4"] == is4) & _all([
        w[i].bitwiseAND(r["m"][i]) == r["v"][i] for i in range(4)]))


def _network_test(specs):
    """A network list → a test of :func:`_ip_words`: true when the
    address is in any of them (``unicast``, ``global_unicast`` and
    ``public`` hold what is outside their table), false on null."""
    inside = [s for s in specs if s not in _OUTSIDE]
    outside = sorted({tuple(_OUTSIDE[s]) for s in specs if s in _OUTSIDE})

    def test(w: Column) -> Column:
        hits = [_in_table(w, inside)] if inside else []
        hits += [~_in_table(w, o) for o in outside]
        return w.isNotNull() & _any(hits) if hits else F.lit(False)
    return test


# ---------------------------------------------------------------- helpers

def _as_list(v) -> List:
    return list(v) if isinstance(v, (list, tuple)) else [v]


def _flatten_field_paths(body: Mapping, stop=None) -> dict:
    """Nested dict condition bodies → dotted field paths:
    ``{'log': {'flags': 'x'}}`` → ``{'log.flags': 'x'}``. Leaf values
    (scalars, lists — e.g. network spec lists) stop the recursion, as
    does a dict matching ``stop`` (range op dicts)."""
    out: dict = {}
    for k, v in body.items():
        if isinstance(v, Mapping) and v and not (stop and stop(v)):
            for sk, sv in _flatten_field_paths(v, stop).items():
                out[f"{k}.{sk}"] = sv
        else:
            out[k] = v
    return out


def _present(c: Column, test: Column) -> Column:
    """``test``, false where the field is null: Go's ``GetValue`` fails
    on a missing key and the condition is false, so ``not`` of it is
    true (``contains``, ``regexp``, ``range``, ``network``)."""
    return c.isNotNull() & test


def _all(cols: Sequence[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def _any(cols: Sequence[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


# ---------------------------------------------------------------- compiler

def compile_condition(cfg: Mapping[str, Any],
                      schema: "T.StructType | None" = None) -> Column:
    """One condition dict → boolean Column (conditions.go:55-99).

    ``schema`` (optional) enables type-aware compilation: ``contains``
    on an array<string> field matches when ANY element contains the
    substring (``conditions/matcher.go:56-88``); without a schema the
    string form is emitted."""
    if not isinstance(cfg, Mapping) or len(cfg) != 1:
        raise ValueError(f"condition must have exactly one key: {cfg!r}")
    (kind, body), = cfg.items()

    # dotted keys inside condition bodies are FIELD PATHS, but config
    # loaders (ours and libbeat's ucfg) may deliver them as nested
    # maps ({'log': {'flags': 'x'}} for 'log.flags: x'); re-flatten so
    # both spellings compile identically. Range specs (gte/lt/...)
    # stay one level nested by design and are not condition values.
    if kind in ("equals", "contains", "regexp", "network") \
            and isinstance(body, Mapping):
        body = _flatten_field_paths(body)
    elif kind == "range" and isinstance(body, Mapping):
        # flatten down to the op dict ({'cpu': {'pct': {'gte': .5}}}
        # → {'cpu.pct': {'gte': .5}}); stop at any all-leaf dict —
        # not at "known ops only" — so a MISSPELLED op still reaches
        # the range loop and gets its descriptive ValueError instead
        # of being flattened into a scalar spec
        body = _flatten_field_paths(
            body,
            stop=lambda d: not any(isinstance(v, Mapping)
                                   for v in d.values()))

    if kind == "and":
        return _all([compile_condition(c, schema) for c in body])
    if kind == "or":
        return _any([compile_condition(c, schema) for c in body])
    if kind == "not":
        return ~compile_condition(body, schema)

    if kind == "equals":
        # typed equality; null field ≠ anything (Go: missing key → false)
        return _all([
            F.col(f).eqNullSafe(F.lit(v)) & F.col(f).isNotNull()
            for f, v in body.items()
        ])

    if kind == "contains":
        from .fieldpath import field_type
        cols = []
        for f, v in body.items():
            c = F.col(f)
            ft = field_type(schema, f) if schema is not None else None
            if isinstance(ft, T.ArrayType):
                # any element contains the substring (matcher.go:56-88);
                # closure factory keeps the lambda unary for Catalyst
                def _elem_contains(needle):
                    return lambda x: x.contains(needle)
                test = F.exists(c, _elem_contains(str(v)))
            else:
                test = c.contains(str(v))
            cols.append(_present(c, test))
        return _all(cols)

    if kind == "regexp":
        return _all([_present(F.col(f), F.col(f).rlike(str(p)))
                     for f, p in body.items()])

    if kind == "range":
        ops = {"gte": "__ge__", "gt": "__gt__", "lte": "__le__", "lt": "__lt__"}
        cols = []
        for f, spec in body.items():
            if not isinstance(spec, Mapping) or not spec:
                raise ValueError(
                    f"range spec for {f!r} must be a non-empty mapping "
                    f"of gte/gt/lte/lt, got {spec!r}")
            for op, v in spec.items():
                if op not in ops:
                    raise ValueError(f"unknown range op {op!r}")
                cols.append(_present(F.col(f), getattr(
                    F.col(f), ops[op])(F.lit(float(v)))))
        return _all(cols)

    if kind == "has_fields":
        from .fieldpath import field_type
        cols = []
        for f in _as_list(body):
            if schema is not None and field_type(schema, f) is None:
                # missing key → condition is false (has_fields.go:31),
                # resolved at plan time instead of an analysis error
                cols.append(F.lit(False))
            else:
                cols.append(F.col(f).isNotNull())
        return _all(cols)

    if kind == "network":
        # one address parse per field, whatever the number of specs
        return _all([_let(_ip_words(F.col(f)), _network_test(_as_list(s)))
                     for f, s in body.items()])

    raise ValueError(f"unknown condition kind {kind!r}")
