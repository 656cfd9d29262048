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
  field, fields are AND'd (``conditions/network.go:44-139``).
- ``and`` / ``or`` / ``not`` — composition (``and.go``, ``or.go``,
  ``not.go``).
"""

from __future__ import annotations

import ipaddress
from typing import Any, Dict, Iterator, List, Mapping, Sequence

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

__all__ = ["compile_condition", "ip_to_long", "cidr_match"]


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


_IPV4_RE = r"^((25[0-5]|2[0-4]\d|1?\d?\d)\.){3}(25[0-5]|2[0-4]\d|1?\d?\d)$"

# Strict IPv6 textual form, mirroring Go net.ParseIP (no zone ids):
# full 8-group, '::'-compressed with correct group counts, and the
# embedded-IPv4 tails (full 6-group+v4 and compressed variants). The
# grok IPV6 class is deliberately looser (log-scraping); validation
# paths (convert type=ip, add_network_direction) use THIS one — the
# loose class accepts strings like '1:2:3' that ParseIP rejects.
_H = "[0-9A-Fa-f]{1,4}"
_V4 = r"((25[0-5]|2[0-4]\d|1?\d?\d)\.){3}(25[0-5]|2[0-4]\d|1?\d?\d)"
_IPV6_RE = ("^("
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
            ")$")

# named networks (conditions/network.go:44-55), the IPv4 half expressed
# as CIDR lists so the hot path stays pure mask arithmetic. Go's
# IsInterfaceLocalMulticast is IPv6-only (returns false for every v4
# address), hence the empty list.
_NAMED_V4 = {
    "loopback": ["127.0.0.0/8"],
    "private": ["10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16"],
    "multicast": ["224.0.0.0/4"],
    "interface_local_multicast": [],
    "link_local_unicast": ["169.254.0.0/16"],
    "link_local_multicast": ["224.0.0.0/24"],
    "unspecified": ["0.0.0.0/32"],
}


# --- Go net.IP predicate mirror (used for the non-dotted-quad rows) ---

def _go_ip_parse(v):
    """Parse like ``net.ParseIP``: IPv4-mapped IPv6 collapses to the
    IPv4 address (Go's To4 alignment); zones/garbage → None."""
    try:
        ip = ipaddress.ip_address(v)
    except (ValueError, TypeError):
        return None
    if ip.version == 6 and ip.ipv4_mapped is not None:
        return ip.ipv4_mapped
    return ip


def _go_named_pred(spec: str):
    """The ``namedNetworks`` predicate table (network.go:44-55) over a
    parsed ipaddress object, byte-faithful to the Go net.IP methods
    (e.g. link_local_multicast v6 = ff?2::/16 on the scope nibble,
    private v6 = fd00::/8 from the reference's ff00-masked constant)."""
    v4bcast = ipaddress.ip_address("255.255.255.255")

    def is_loopback(ip):
        return ip.is_loopback

    def is_unspecified(ip):
        return int(ip) == 0

    def is_ll_unicast(ip):
        if ip.version == 4:
            return ip in ipaddress.ip_network("169.254.0.0/16")
        return ip in ipaddress.ip_network("fe80::/10")

    def is_ll_multicast(ip):
        if ip.version == 4:
            return ip in ipaddress.ip_network("224.0.0.0/24")
        b = ip.packed
        return b[0] == 0xFF and (b[1] & 0x0F) == 0x02

    def is_iface_multicast(ip):
        if ip.version == 4:
            return False
        b = ip.packed
        return b[0] == 0xFF and (b[1] & 0x0F) == 0x01

    def is_multicast(ip):
        return ip.is_multicast

    def is_private(ip):
        if ip.version == 4:
            return any(ip in ipaddress.ip_network(c) for c in
                       ("10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16"))
        return ip.packed[0] == 0xFD  # privateIPv6: fd00::/8

    def is_global_unicast(ip):
        return not (ip == v4bcast or is_unspecified(ip)
                    or is_loopback(ip) or is_multicast(ip)
                    or is_ll_unicast(ip))

    def is_public(ip):  # !isLocalOrPrivate (network.go:237-245)
        return not (is_private(ip) or is_loopback(ip)
                    or is_unspecified(ip) or ip == v4bcast
                    or is_ll_unicast(ip) or is_ll_multicast(ip)
                    or is_iface_multicast(ip))

    table = {
        "loopback": is_loopback,
        "unspecified": is_unspecified,
        "link_local_unicast": is_ll_unicast,
        "link_local_multicast": is_ll_multicast,
        "interface_local_multicast": is_iface_multicast,
        "multicast": is_multicast,
        "private": is_private,
        "unicast": is_global_unicast,
        "global_unicast": is_global_unicast,
        "public": is_public,
    }
    return table[spec]


def _ip_pred_udf(pred):
    """Arrow-batched boolean UDF over an IP string column; unparseable
    values are false (Go: ParseIP nil → no match). pandas is loaded
    only when a plan needs this kernel."""
    import pandas as pd

    def _m(it):
        def one(v):
            ip = _go_ip_parse(v)
            return bool(pred(ip)) if ip is not None else False
        for s in it:
            yield s.map(one)
    # pandas_udf reads its kind from the hints; written in the
    # signature they would be strings naming a module-level ``pd``
    _m.__annotations__ = {"it": Iterator[pd.Series],
                          "return": Iterator[pd.Series]}
    return F.pandas_udf(_m, "boolean")


def cidr_match(col: Column, cidr: str) -> Column:
    """True when the IP string in ``col`` is inside ``cidr``.

    IPv4 CIDR: compile-time mask arithmetic — one AND + EQ per row,
    pure JVM, so the filter stays pushdown-eligible with zero Python
    in the plan (the hot-path property; known divergence: Go's ParseIP
    folds ``::ffff:a.b.c.d`` spellings into v4, which this fast path
    does not see — the *named* network specs do handle them via the
    Go-predicate kernel). IPv6 CIDR: Arrow kernel membership (``::``
    expansion and v6 group math don't reduce to column arithmetic)."""
    net = ipaddress.ip_network(cidr, strict=False)
    if net.version == 4:
        return _v4_cidr_col(col, net)

    def in_net6(ip, _n=net):
        return ip.version == 6 and ip in _n
    return _ip_pred_udf(in_net6)(col)


def _v4_cidr_col(col: Column, net) -> Column:
    """Shared v4-CIDR membership: rlike validity + compile-time
    mask/base arithmetic (used by cidr_match AND the network_any
    parts, so v4 semantics can't drift between them)."""
    mask = int(net.netmask)
    base = int(net.network_address)
    valid = col.rlike(_IPV4_RE)
    return valid & (ip_to_long(col).bitwiseAND(F.lit(mask))
                    == F.lit(base))


def _network_one_parts(col: Column, spec: str):
    """One network spec → ``(jvm_part, python_pred)``.

    ``jvm_part`` (or None) is the pure-JVM membership column for
    dotted-quad rows; ``python_pred`` (or None) is the Go-semantics
    predicate for everything else (IPv6, v4-mapped spellings). Callers
    combine: ``jvm | (~valid4 & kernel(pred))`` — and
    :func:`network_any` merges the predicates of MANY specs into ONE
    Arrow kernel so an N-network processor costs one Python node per
    column, not N."""
    if spec in _NAMED_V4 or spec in ("unicast", "global_unicast",
                                     "public"):
        pred = _go_named_pred(spec)
        valid4 = col.rlike(_IPV4_RE)
        if spec in _NAMED_V4:
            jvm = None
            for c in _NAMED_V4[spec]:
                n = ipaddress.ip_network(c)
                mm = (ip_to_long(col).bitwiseAND(F.lit(int(n.netmask)))
                      == F.lit(int(n.network_address)))
                jvm = mm if jvm is None else (jvm | mm)
            jvm = (valid4 & jvm) if jvm is not None else F.lit(False)
        elif spec in ("unicast", "global_unicast"):
            bad = None
            for name in ("unspecified", "loopback", "multicast",
                         "link_local_unicast"):
                for c in _NAMED_V4[name]:
                    n = ipaddress.ip_network(c)
                    mm = (ip_to_long(col)
                          .bitwiseAND(F.lit(int(n.netmask)))
                          == F.lit(int(n.network_address)))
                    bad = mm if bad is None else (bad | mm)
            bad = bad | (col == "255.255.255.255")
            jvm = valid4 & ~bad
        else:  # public = !isLocalOrPrivate (network.go:237-245)
            bad = None
            for name in ("private", "loopback", "link_local_unicast",
                         "link_local_multicast", "unspecified"):
                for c in _NAMED_V4[name]:
                    n = ipaddress.ip_network(c)
                    mm = (ip_to_long(col)
                          .bitwiseAND(F.lit(int(n.netmask)))
                          == F.lit(int(n.network_address)))
                    bad = mm if bad is None else (bad | mm)
            bad = bad | (col == "255.255.255.255")
            jvm = valid4 & ~bad
        return jvm, pred
    net = ipaddress.ip_network(spec, strict=False)
    if net.version == 4:
        return _v4_cidr_col(col, net), None

    def in_net6(ip, _n=net):
        return ip.version == 6 and ip in _n
    return None, in_net6


def network_any(col: Column, specs) -> Column:
    """Membership in ANY of the given networks/named classes, with at
    most ONE Arrow kernel regardless of how many specs need the Go
    predicate — dotted-quad rows stay pure JVM throughout."""
    parts = [_network_one_parts(col, s) for s in specs]
    jvm = [j for j, _ in parts if j is not None]
    preds = [p for _, p in parts if p is not None]
    out = _any(jvm) if jvm else F.lit(False)
    if preds:
        def combined(ip, _ps=tuple(preds)):
            return any(p(ip) for p in _ps)
        valid4 = col.rlike(_IPV4_RE)
        # non-dotted-quad rows (IPv6, v4-mapped, garbage) go through
        # the Go-predicate kernel; dotted-quad rows stay pure JVM
        out = out | (~valid4.eqNullSafe(True)
                     & _ip_pred_udf(combined)(col))
    return out


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
                cols.append(F.exists(c, _elem_contains(str(v))))
            else:
                cols.append(c.contains(str(v)))
        return _all(cols)

    if kind == "regexp":
        return _all([F.col(f).rlike(str(p)) for f, p in body.items()])

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
                cols.append(getattr(F.col(f), ops[op])(F.lit(float(v))))
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
        # ONE Arrow kernel per field covering every named/v6 spec —
        # not one per spec (see network_any)
        cols = []
        for f, specs in body.items():
            cols.append(network_any(F.col(f), _as_list(specs)))
        return _all(cols)

    raise ValueError(f"unknown condition kind {kind!r}")
