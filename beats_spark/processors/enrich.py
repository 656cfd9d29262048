"""Enrichment processors — the lookup surface (SURVEY.md §2.5).

The reference does point lookups against side state (dns cache, generic
KV cache, sid tables, geoip in ES ingest). Here every one of these runs
``lookup.enrich`` against a lookup DataFrame: a small lookup is folded
into the plan as a map literal, a larger one is a broadcast left join.
Either way the TTL'd LRU cache of ``dns/cache.go`` is simply the lookup
table itself, shipped once per plan or per executor instead of filled
per miss, and the fact table never shuffles.
"""

from __future__ import annotations

from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..lookup import broadcast_enrich, enrich, enrich_assigns
from . import ProcResult, register

__all__ = ["broadcast_enrich", "cidr_enrich", "enrich_assigns",
           "registered_domain_col"]


@register("dns")
def dns(cfg: Mapping[str, Any]):
    """dns lookup processor (``dns/dns.go:80``): resolve fields via a
    provided lookup table (host → ip), append/replace, tag_on_failure.
    cfg: ``lookup`` (DataFrame with host/ip-ish columns), ``fields``
    {src_col: dst_col}, ``lookup_key``, ``value_field``."""
    lookup = cfg["lookup"]
    fields = cfg["fields"]
    lookup_key = cfg.get("lookup_key", "host")
    value_field = cfg.get("value_field", "ip")
    action = cfg.get("action", "append")
    tag = cfg.get("tag_on_failure")

    def make(df: DataFrame) -> ProcResult:
        def reshape(d: DataFrame) -> DataFrame:
            out = d
            for src, dst in fields.items():
                out = enrich(
                    out, lookup, on=src, lookup_key=lookup_key,
                    fields={value_field: dst}, action=action,
                    tag_on_failure=tag)
            return out
        return ProcResult(reshape=reshape)
    return make


@register("cache")
def cache(cfg: Mapping[str, Any]):
    """Generic KV enrich (``cache/cache.go:128``). ``get``: look
    key_field up in the store → target_field. ``put`` is the store
    *builder* — in batch it is ``groupBy(key).agg(last(value))`` run by
    the caller (see ``build_cache_store``)."""
    get = cfg.get("get")
    lookup = cfg["store"]

    def make(df: DataFrame) -> ProcResult:
        def reshape(d: DataFrame) -> DataFrame:
            key = get["key_field"]
            tgt = get["target_field"]
            value_cols = [c for c in lookup.columns if c != "key"]
            return enrich(
                d, lookup, on=key, lookup_key="key",
                fields={c: f"{tgt}_{c}" for c in value_cols},
                action="replace" if get.get("overwrite_keys") else "append",
            )
        return ProcResult(reshape=reshape)
    return make


def build_cache_store(df: DataFrame, key_field: str, value_fields: list,
                      ts_field: str | None = None,
                      tiebreak_fields: list | None = None) -> DataFrame:
    """The ``put`` half of the cache processor: last write per key wins
    (``cache/cache.go`` put semantics with TTL dropped — batch snapshot).

    Deterministic winner: the previous ``orderBy(ts).groupBy.agg(last)``
    shape was non-deterministic — sort order does not survive the
    aggregation shuffle, so "last per key" could flip between runs.
    Now a ``row_number`` window ordered by ts desc with an explicit
    tiebreak (``tiebreak_fields``, default: all value fields desc)
    picks exactly one row per key regardless of partitioning. With no
    ``ts_field`` the tiebreak alone orders — still deterministic."""
    from pyspark.sql import Window
    order = []
    if ts_field is not None:
        order.append(F.col(ts_field).desc())
    for t in (tiebreak_fields or value_fields):
        order.append(F.col(t).desc_nulls_last())
    w = Window.partitionBy(F.col(key_field)).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1)
              .select(F.col(key_field).alias("key"),
                      *[F.col(v) for v in value_fields]))


@register("translate_sid")
def translate_sid(cfg: Mapping[str, Any]):
    """SID → account fields via a lookup table
    (``translate_sid/translatesid.go:75``)."""
    lookup = cfg["lookup"]
    src = cfg["field"]
    mapping = cfg.get("fields", {"account_name": "account_name"})
    key = cfg.get("lookup_key", "sid")

    def make(df: DataFrame) -> ProcResult:
        def reshape(d: DataFrame) -> DataFrame:
            return enrich(d, lookup, on=src, lookup_key=key,
                          fields=mapping, action="replace")
        return ProcResult(reshape=reshape)
    return make


def _lookup_join_builder(default_field: str, default_key: str):
    """Shared builder for the container/orchestrator/process metadata
    processors — all are lookups of a caller-supplied side table keyed
    on an id column (``add_docker_metadata.go:147``,
    ``add_kubernetes_metadata/kubernetes.go:335``,
    ``add_process_metadata.go:207``,
    ``translate_ldap_attribute.go:141``)."""
    def builder(cfg: Mapping[str, Any]):
        lookup = cfg["lookup"]
        src = cfg.get("field", default_field)
        key = cfg.get("lookup_key", default_key)
        fields = cfg.get("fields") or {
            c: c for c in lookup.columns if c != key}
        action = cfg.get("action", "replace")
        tag = cfg.get("tag_on_failure")

        def make(df: DataFrame) -> ProcResult:
            def reshape(d: DataFrame) -> DataFrame:
                return enrich(d, lookup, on=src, lookup_key=key,
                              fields=fields, action=action,
                              tag_on_failure=tag)
            return ProcResult(reshape=reshape)
        return make
    return builder


register("translate_ldap_attribute")(_lookup_join_builder("guid", "guid"))
register("add_docker_metadata")(_lookup_join_builder("container_id",
                                                     "container_id"))
register("add_kubernetes_metadata")(_lookup_join_builder("pod_uid",
                                                         "pod_uid"))
register("add_process_metadata")(_lookup_join_builder("pid", "pid"))


@register("add_host_metadata")
def add_host_metadata(cfg: Mapping[str, Any]):
    """host.* is constant per run (``add_host_metadata.go:119``) → lit
    columns; values supplied by the caller (no /etc probing in an
    engine)."""
    info = cfg.get("host", {"name": "spark-driver", "os_family": "linux"})

    def make(df: DataFrame) -> ProcResult:
        return ProcResult(assigns={
            f"host_{k}": F.lit(v) for k, v in info.items()})
    return make


@register("add_locale")
def add_locale(cfg: Mapping[str, Any]):
    """Timezone offset literal (``add_locale/add_locale.go:88``); the
    engine is UTC-pinned so the offset is +00:00 unless configured."""
    offset = cfg.get("offset", "+00:00")

    def make(df: DataFrame) -> ProcResult:
        return ProcResult(assigns={"event_timezone": F.lit(offset)})
    return make


@register("registered_domain")
def registered_domain(cfg: Mapping[str, Any]):
    """eTLD+1 extraction (``registered_domain/registered_domain.go:76``).

    Two compile strategies:

    - ``suffixes`` (small caller list): when-chain ordered by label
      count, all JVM-side — the ad-hoc path.
    - otherwise: full-PSL broadcast-join matcher
      (:mod:`beats_spark.psl`) over ``psl`` rules (a
      :class:`~beats_spark.psl.PslRules`, raw
      ``public_suffix_list.dat`` text, or a path via ``psl_file``) —
      defaults to the bundled ICANN subset. Handles wildcard and
      exception rules like the reference's
      golang.org/x/net/publicsuffix walk; scales to the ~9k-rule
      real list as K map-side broadcast joins.
    """
    src = cfg["field"]
    target = cfg.get("target_field", "registered_domain")
    subdomain_target = cfg.get("target_subdomain_field")
    etld_target = cfg.get("target_etld_field")
    suffixes = cfg.get("suffixes")

    if suffixes is not None:
        def make(df: DataFrame) -> ProcResult:
            return ProcResult(assigns=registered_domain_col(
                F.col(src), target, subdomain_target, suffixes))
        return make

    from ..psl import default_rules, load_psl_file, parse_psl
    rules = cfg.get("psl")
    if isinstance(rules, str):
        rules = parse_psl(rules)
    elif "psl_file" in cfg:
        rules = load_psl_file(cfg["psl_file"])
    elif rules is None:
        rules = default_rules()

    def make(df: DataFrame) -> ProcResult:
        from ..psl import registered_domain_psl

        def reshape(d: DataFrame) -> DataFrame:
            return registered_domain_psl(
                d, src, target=target,
                subdomain_target=subdomain_target,
                etld_target=etld_target, rules=rules)
        return ProcResult(reshape=reshape)
    return make


def registered_domain_col(host: Column, target: str,
                          subdomain_target: str | None,
                          suffixes: list) -> dict:
    """when-chain: longest (most labels, then longest string) suffix
    first, registered domain = label before suffix + suffix."""
    ordered = sorted(suffixes, key=lambda s: (-s.count("."), -len(s)))
    rd = F.lit(None).cast("string")
    # a host that IS a public suffix has no registered domain at all
    # (registered_domain.go returns nothing for bare eTLDs)
    is_suffix = host.isin(*suffixes)
    chain = None
    for s in ordered:
        esc = s.replace(".", r"\.")
        pat = r"([^.]+\." + esc + r")$"
        ext = F.regexp_extract(host, pat, 1)
        hit = (ext != "") & ~is_suffix
        piece = F.when(hit, ext)
        chain = piece if chain is None else chain.when(hit, ext)
    rd = chain.otherwise(F.lit(None)) if chain is not None else rd
    out = {target: rd}
    if subdomain_target:
        out[subdomain_target] = F.when(
            rd.isNotNull() & (host != rd),
            F.substring(host, F.lit(1), F.length(host) - F.length(rd) - 1))
    return out


def cidr_enrich(
    df: DataFrame,
    prefixes: DataFrame,
    ip_col: str,
    cidr_col: str = "cidr",
    attach: "Sequence[str] | None" = None,
) -> DataFrame:
    """Longest-prefix-match CIDR enrichment — attach ASN / network /
    geo attributes to every event by its IPv4 address, the engine
    form of the geoip-style lookups Beats defers to the backend
    (``add_fields``/geoip enrich family; the v4 mask arithmetic is
    shared with ``conditions._v4_cidr_col`` so membership semantics
    cannot drift). ``prefixes`` is a small dim table with a
    ``cidr_col`` like ``10.0.0.0/8`` plus attribute columns; rows
    whose IP matches several prefixes get the LONGEST one (routing
    semantics). Non-IPv4 / unmatched rows keep NULL attributes.

    Scale shape — the routing-table trick, not a range join: group
    the dim by masklen; for each masklen present (≤ 33 of them),
    compute ``ip & mask`` map-side and LEFT broadcast-join on the
    masked base. The big side never shuffles and never explodes;
    longest-match resolves as a coalesce over joins ordered masklen
    DESC. Cost = (#distinct masklens) broadcast hash joins — bounded
    by 33 whatever the table size; real ASN/geo tables concentrate
    in a handful of masklens.

    The dim is collected to the driver to read its masklens (it is a
    broadcast-sized table by contract — same bound as any broadcast
    join); each masklen's slice broadcasts separately. Non-canonical
    CIDRs (host bits set in the base, e.g. ``10.1.1.7/24``) are
    canonicalised per masklen (``base & mask``) when building each
    join side, so they match their covering prefix instead of
    silently never matching; duplicate canonical (base, masklen)
    rows in the dim are rejected loudly — a LEFT join against a
    duplicated prefix would silently duplicate fact rows. An empty
    dim short-circuits to NULL attach columns (``coalesce`` over an
    empty list is ill-defined).
    """
    from ..conditions import _IPV4_RE, ip_to_long

    attach = list(attach) if attach is not None else [
        c for c in prefixes.columns if c != cidr_col]
    # try_element_at: a cidr without '/' must reach the named
    # bad-masklen error as a NULL, not die in ANSI getItem(1)
    parts = F.split(F.col(cidr_col), "/")
    pfx = prefixes.select(
        F.try_element_at(parts, F.lit(1)).alias("__base_ip"),
        F.try_element_at(parts, F.lit(2)).try_cast("int")
        .alias("__mlen"),
        *[F.col(c) for c in attach])
    pfx = pfx.withColumn("__base", ip_to_long(F.col("__base_ip")))
    # ONE dim-side action yields both the masklen census and the
    # canonical-duplicate guard (the per-masklen count() spelling
    # cost ≤33 extra tiny jobs — measured 1.7→2.5 s on the catalog
    # entry)
    census = (pfx.select(
        "__mlen",
        F.expr("CASE WHEN __mlen = 0 THEN 0 ELSE __base & "
               "(shiftleft(CAST(4294967295 AS BIGINT), 32 - __mlen)"
               " & CAST(4294967295 AS BIGINT)) END").alias("__cb"))
        .groupBy("__mlen", "__cb")
        .agg(F.count(F.lit(1)).alias("__n")).collect())
    raw_mlens = {r["__mlen"] for r in census}
    # check BEFORE sorting: sorted() over a set containing None (a
    # cidr without '/') would raise a bare TypeError instead of the
    # named error
    for m in raw_mlens:
        if m is None or not 0 <= m <= 32:
            raise ValueError(f"cidr_enrich: bad masklen /{m}")
    mlens = sorted(raw_mlens, reverse=True)
    dups = [r for r in census if r["__n"] > 1]
    if dups:
        r = dups[0]
        raise ValueError(
            f"cidr_enrich: duplicate canonical prefix at "
            f"/{r['__mlen']} — a LEFT join against it would "
            "duplicate fact rows")
    if not mlens:
        types = {f.name: f.dataType for f in prefixes.schema.fields}
        out = df
        for c in attach:
            out = out.withColumn(c, F.lit(None).cast(types[c]))
        return out

    def _mask(m):
        return ((0xFFFFFFFF << (32 - m)) & 0xFFFFFFFF) if m else 0

    ip = F.col(ip_col)
    valid = ip.rlike(_IPV4_RE)
    out = df.withColumn("__ipl",
                        F.when(valid, ip_to_long(ip)))
    joined = out
    for m in mlens:
        mask = _mask(m)
        side = (pfx.filter(F.col("__mlen") == m)
                .select(F.col("__base").bitwiseAND(F.lit(mask))
                        .alias(f"__b{m}"),
                        *[F.col(c).alias(f"__{c}_{m}")
                          for c in attach]))
        joined = joined.join(
            F.broadcast(side),
            joined["__ipl"].bitwiseAND(F.lit(mask)) == side[f"__b{m}"],
            "left").drop(f"__b{m}")
    for c in attach:
        joined = joined.withColumn(
            c, F.coalesce(*[F.col(f"__{c}_{m}") for m in mlens]))
    drop = ["__ipl"] + [f"__{c}_{m}" for c in attach for m in mlens]
    return joined.drop(*drop)
