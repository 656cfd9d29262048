"""Remaining processor inventory (SURVEY.md §2.3-2.6 tail): network
hashes and direction, syslog-as-processor, structural moves, XML
decode, timeseries hashing, data-stream naming, per-run metadata, and
the user-extension (``script``) hook point.
"""

from __future__ import annotations

from typing import Any, Iterator, Mapping

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from . import ProcResult, register
from ..conditions import ip_to_long

__all__ = ["community_id_col", "community_id_md5_col", "be_bytes"]


# ------------------------------------------------------------- community_id

_PROTO_NUM = {"icmp": 1, "tcp": 6, "udp": 17, "sctp": 132, "icmpv6": 58}


def be_bytes(col: Column, width_hex: int) -> Column:
    """Big-endian fixed-width bytes of an integer column, JVM-side —
    the shared binary-packing spelling (community ID payloads,
    lumberjack frame fields)."""
    return F.unhex(F.lpad(F.hex(col.cast("bigint")), width_hex, "0"))


_be_bytes = be_bytes     # internal alias, existing call sites


def _flow_endpoints(src_ip: Column, src_port: Column, dst_ip: Column,
                    dst_port: Column, proto: Column):
    """Direction-independent endpoint ordering + protocol number —
    shared by the sha1 (spec) and md5 (oracle-exact) flow hashes so
    their byte layouts cannot drift."""
    proto_n = F.coalesce(
        *[F.when(F.lower(proto) == name, F.lit(num))
          for name, num in _PROTO_NUM.items()],
        proto.try_cast("int"), F.lit(0))
    s_ip, d_ip = ip_to_long(src_ip), ip_to_long(dst_ip)
    flip = (s_ip > d_ip) | ((s_ip == d_ip) & (src_port > dst_port))
    ip1 = F.when(flip, d_ip).otherwise(s_ip)
    ip2 = F.when(flip, s_ip).otherwise(d_ip)
    p1 = F.when(flip, dst_port).otherwise(src_port)
    p2 = F.when(flip, src_port).otherwise(dst_port)
    return ip1, ip2, p1, p2, proto_n


def community_id_col(src_ip: Column, src_port: Column, dst_ip: Column,
                     dst_port: Column, proto: Column,
                     seed: int = 0) -> Column:
    """Community ID v1 flow hash (``communityid/communityid.go:90``):
    ``"1:" + base64(sha1(seed . min_ep . max_ep . proto . 0 . ports))``
    with the (ip, port) endpoint pair ordered so the flow hash is
    direction-independent. Entirely JVM-side: IPv4 strings become
    4-byte big-endian values via hex packing, sha1/base64 are built-ins
    — no UDF in a per-flow hot path."""
    ip1, ip2, p1, p2, proto_n = _flow_endpoints(
        src_ip, src_port, dst_ip, dst_port, proto)
    payload = F.concat(
        _be_bytes(F.lit(seed), 4),
        _be_bytes(ip1, 8), _be_bytes(ip2, 8),
        _be_bytes(proto_n, 2), _be_bytes(F.lit(0), 2),
        _be_bytes(p1, 4), _be_bytes(p2, 4))
    return F.concat(F.lit("1:"), F.base64(F.unhex(F.sha1(payload))))


def community_id_md5_col(src_ip: Column, src_port: Column,
                         dst_ip: Column, dst_port: Column,
                         proto: Column, seed: int = 0) -> Column:
    """md5 twin of :func:`community_id_col` for engines without sha1
    (DuckDB ships md5 but no sha1, so this variant is the
    oracle-exact one): identical endpoint ordering and byte layout,
    but the digest input is the UPPERCASE hex spelling of the payload
    (portable across engines whose hex() case differs from their
    blob semantics) hashed with md5, and the prefix is ``"1m:"`` so
    the value can never be mistaken for a spec Community ID. Same
    zero-UDF JVM-side shape."""
    ip1, ip2, p1, p2, proto_n = _flow_endpoints(
        src_ip, src_port, dst_ip, dst_port, proto)

    def hx(col: Column, w: int) -> Column:
        return F.lpad(F.hex(col.cast("bigint")), w, "0")

    payload_hex = F.concat(
        hx(F.lit(seed), 4), hx(ip1, 8), hx(ip2, 8),
        hx(proto_n, 2), F.lit("00"), hx(p1, 4), hx(p2, 4))
    return F.concat(F.lit("1m:"),
                    F.base64(F.unhex(F.md5(payload_hex))))


@register("community_id")
def community_id(cfg: Mapping[str, Any]):
    fields = cfg.get("fields", {})
    target = cfg.get("target", "network_community_id")
    seed = int(cfg.get("seed", 0))

    def make(df: DataFrame) -> ProcResult:
        return ProcResult(assigns={target: community_id_col(
            F.col(fields.get("source_ip", "source_ip")),
            F.col(fields.get("source_port", "source_port")),
            F.col(fields.get("destination_ip", "destination_ip")),
            F.col(fields.get("destination_port", "destination_port")),
            F.col(fields.get("transport", "network_transport")),
            seed=seed)})
    return make


# ---------------------------------------------------- add_network_direction

@register("add_network_direction")
def add_network_direction(cfg: Mapping[str, Any]):
    """inbound/outbound/internal/external by membership of src/dst in
    the internal network list (``actions/add_network_direction.go:65``).
    ``internal_networks`` accepts CIDRs AND named networks ("private",
    "loopback", …) like the reference; an unparseable or empty IP on
    either side yields NO direction (the reference's early return),
    not "external". Each side's address is parsed once
    (``conditions._ip_words``)."""
    from ..conditions import _ip_words, _let, _network_test
    src = cfg.get("source", "source_ip")
    dst = cfg.get("destination", "destination_ip")
    target = cfg.get("target", "network_direction")
    internal = _network_test(cfg.get("internal_networks", []))

    def inside(name: str) -> Column:
        # null where the address does not parse. Each side is tested
        # in its own lambda: Catalyst takes two same-shaped lambdas
        # that differ only in an outer lambda variable for one
        # expression, and drops the second from an AND.
        return _let(_ip_words(F.col(name)),
                    lambda w: F.when(w.isNotNull(), internal(w)))

    def direction(s: Column, d: Column) -> Column:
        return (F.when(s.isNull() | d.isNull(), F.lit(None))
                 .when(s & d, "internal")
                 .when(s, "outbound")
                 .when(d, "inbound")
                 .otherwise("external"))

    def make(df: DataFrame) -> ProcResult:
        return ProcResult(assigns={target: _let(
            inside(src),
            lambda s: _let(inside(dst), lambda d: direction(s, d)))})
    return make


# ------------------------------------------------------- syslog (processor)

@register("syslog")
def syslog(cfg: Mapping[str, Any]):
    """RFC3164/RFC5424 parse as a processor (``syslog/syslog.go:141``),
    delegating to the reader-stack implementation."""
    from ..functions import syslog as sl
    field = cfg.get("field", "message")
    fmt = cfg.get("format", "auto")
    year = cfg.get("year_from")

    def make(df: DataFrame) -> ProcResult:
        def reshape(d: DataFrame) -> DataFrame:
            if fmt == "rfc3164":
                return sl.parse_syslog_rfc3164(d, field=field, year_from=year)
            if fmt == "rfc5424":
                return sl.parse_syslog_rfc5424(d, field=field)
            return sl.parse_syslog(d, field=field, year_from=year)
        return ProcResult(reshape=reshape)
    return make


# ------------------------------------------------------------- move_fields

@register("move_fields")
def move_fields(cfg: Mapping[str, Any]):
    """Re-parent columns under/out of a prefix
    (``move_fields.go:52``): with flat prefixed columns this is a
    deterministic rename sweep."""
    frm = cfg.get("from", "")
    to = cfg.get("to", "")
    fields = list(cfg.get("fields", []))

    def make(df: DataFrame) -> ProcResult:
        assigns, drops = {}, []
        for c in df.columns:
            base = c[len(frm):] if frm and c.startswith(frm) else (
                c if not frm else None)
            if base is None:
                continue
            if fields and base not in fields:
                continue
            newname = f"{to}{base}"
            if newname == c:
                continue
            assigns[newname] = F.col(c)
            drops.append(c)
        return ProcResult(assigns=assigns, drops=drops)
    return make


# -------------------------------------------------------------- decode_xml

@register("decode_xml")
def decode_xml(cfg: Mapping[str, Any]):
    """XML string → flattened dot-path map<string,string>
    (``decode_xml/decode_xml.go:88``) via stdlib ElementTree inside an
    Arrow-batched UDF (Spark's from_xml needs a declared schema; the
    reference is schemaless)."""
    field = cfg["field"]
    target = cfg.get("target_field", field)

    @F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def _xml(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import xml.etree.ElementTree as ET

        def flatten(elem, prefix, out):
            for k, v in elem.attrib.items():
                out[f"{prefix}{elem.tag}.{k}"] = v
            kids = list(elem)
            if not kids:
                if elem.text and elem.text.strip():
                    out[f"{prefix}{elem.tag}"] = elem.text.strip()
                return
            for kid in kids:
                flatten(kid, f"{prefix}{elem.tag}.", out)

        def one(v):
            if v is None:
                return None
            try:
                root = ET.fromstring(v)
            except ET.ParseError:
                return None
            out: dict = {}
            flatten(root, "", out)
            return out
        for s in it:
            yield s.map(one)

    def make(df: DataFrame) -> ProcResult:
        if field not in df.columns:
            return ProcResult()
        return ProcResult(assigns={target: _xml(F.col(field))})
    return make


# ------------------------------------------------------------- user_agent

#: ordered first-match browser rules: (name, detect substring,
#: version marker). The detect strings and precedence (Edge/Opera
#: before Chrome, Chrome before Safari, Version/ for Safari) follow
#: the public UA format conventions; extend per-config with
#: ``extra_browsers``.
_UA_BROWSERS = [
    ("Googlebot", "Googlebot", "Googlebot/"),
    ("bingbot", "bingbot", "bingbot/"),
    ("Edge", "Edg/", "Edg/"),
    ("Opera", "OPR/", "OPR/"),
    ("Chrome", "Chrome/", "Chrome/"),
    ("Firefox", "Firefox/", "Firefox/"),
    ("Safari", "Version/", "Version/"),
    ("IE", "MSIE ", "MSIE "),
    ("IE", "Trident/", "rv:"),
    ("curl", "curl/", "curl/"),
    ("Wget", "Wget/", "Wget/"),
    ("python-requests", "python-requests/", "python-requests/"),
]

#: ordered OS rules (Android before Linux, iPhone/iPad before
#: Mac OS X — iOS UAs say "like Mac OS X")
_UA_OS = [
    ("Windows", "Windows NT"),
    ("Android", "Android"),
    ("iOS", "iPhone"),
    ("iOS", "iPad"),
    ("ChromeOS", "CrOS"),
    ("macOS", "Mac OS X"),
    ("Linux", "Linux"),
]


@register("user_agent")
def user_agent(cfg: Mapping[str, Any]):
    """User-agent parse: browser name + version, OS family, device
    class — the shape of Elasticsearch's ingest ``user_agent``
    processor (a standard companion to Filebeat's nginx/apache
    modules; libbeat itself ships none, so this is catalog surface).

    Pure first-match ``F.when`` chains over ``contains`` +
    ``regexp_extract`` — whole-stage codegen, zero Python, and every
    rule is reproducible in ANSI SQL, which is what lets the catalog
    query oracle-check the parse. Unknowns come back as
    ``Other``/NULL version, never errors: UA strings are attacker
    -controlled input and a parser that throws on them is a DoS.
    """
    field = cfg.get("field", "user_agent")
    target = cfg.get("target", "ua")
    browsers = list(cfg.get("extra_browsers", [])) + _UA_BROWSERS

    def make(df: DataFrame) -> ProcResult:
        if field not in df.columns:
            return ProcResult()
        ua = F.col(field)

        def version_after(marker: str) -> Column:
            import re as _re
            return F.nullif(
                F.regexp_extract(ua, _re.escape(marker) + r"([0-9][0-9.]*)",
                                 1), F.lit(""))

        name: Column = F.lit("Other")
        ver: Column = F.lit(None).cast("string")
        for bname, detect, marker in reversed(browsers):
            hit = ua.contains(detect)
            name = F.when(hit, F.lit(bname)).otherwise(name)
            ver = F.when(hit, version_after(marker)).otherwise(ver)
        os_name: Column = F.lit("Other")
        for oname, detect in reversed(_UA_OS):
            os_name = (F.when(ua.contains(detect), F.lit(oname))
                       .otherwise(os_name))
        is_bot = F.lower(ua).rlike("bot|spider|crawler")
        device = (F.when(is_bot, F.lit("bot"))
                  .when(ua.contains("Mobi"), F.lit("mobile"))
                  .otherwise(F.lit("desktop")))
        null_guard = ua.isNotNull()
        return ProcResult(assigns={
            f"{target}_name": F.when(null_guard, name),
            f"{target}_version": F.when(null_guard, ver),
            f"{target}_os_name": F.when(null_guard, os_name),
            f"{target}_device": F.when(null_guard, device),
        })
    return make


# ------------------------------------------------------------- timeseries

@register("timeseries")
def timeseries(cfg: Mapping[str, Any]):
    """Dimension-hash instance key (``timeseries/timeseries.go:68``)."""
    dims = list(cfg.get("fields", []))
    target = cfg.get("target", "timeseries_instance")

    def make(df: DataFrame) -> ProcResult:
        cols = [F.col(d) for d in dims if d in df.columns]
        return ProcResult(assigns={target: F.xxhash64(*cols)})
    return make


# ---------------------------------------------------------- add_data_stream

@register("add_data_stream")
def add_data_stream(cfg: Mapping[str, Any]):
    """data_stream type/dataset/namespace + derived index name
    (``add_data_stream/add_data_stream.go:68``)."""
    ds_type = cfg.get("type", "logs")
    dataset = cfg.get("dataset", "generic")
    namespace = cfg.get("namespace", "default")

    def make(df: DataFrame) -> ProcResult:
        return ProcResult(assigns={
            "data_stream_type": F.lit(ds_type),
            "data_stream_dataset": F.lit(dataset),
            "data_stream_namespace": F.lit(namespace),
            "meta_raw_index": F.lit(f"{ds_type}-{dataset}-{namespace}"),
        })
    return make


# ----------------------------------------------- per-run metadata literals

def _lit_meta_builder(prefix: str, default: Mapping[str, Any]):
    def builder(cfg: Mapping[str, Any]):
        info = cfg.get("fields", default)

        def make(df: DataFrame) -> ProcResult:
            return ProcResult(assigns={
                f"{prefix}_{k}": F.lit(v) for k, v in info.items()})
        return make
    return builder


# constant-per-run attachments (probe results supplied by the caller):
# add_cloud_metadata.go:123, add_observer_metadata.go:82
register("add_cloud_metadata")(_lit_meta_builder(
    "cloud", {"provider": "none"}))
register("add_observer_metadata")(_lit_meta_builder(
    "observer", {"type": "engine"}))


# ------------------------------------------------ script (JS + hooks)

# per-worker compiled-session cache: parse once per (source, params)
_JS_SESSIONS: dict = {}


def _js_session(source: str, params_key: str, params, max_ops: int):
    key = (source, params_key, max_ops)
    s = _JS_SESSIONS.get(key)
    if s is None:
        from ..functions import minijs
        s = minijs.compile_script(source, params=params, max_ops=max_ops)
        _JS_SESSIONS[key] = s
    return s


def _script_js(cfg: Mapping[str, Any]):
    """The reference's actual ``script`` processor
    (``script/javascript/javascript.go:195``, config surface
    ``config.go:26-36``): user JavaScript with a ``process(event)``
    entry point, ``register(params)``, a compile-time ``test()`` hook,
    and the beatevent_v0 Get/Put/Rename/Delete/Cancel/Tag/AppendTo
    API — executed by the in-repo ES5 interpreter
    (:mod:`beats_spark.functions.minijs`), per event over Arrow
    batches.

    Spark-contract differences from the schemaless reference, all
    explicit:

    * Output schema = input columns + declared ``fields`` (name →
      Spark type string) + ``tags array<string>`` + ``error.message
      string`` (the two columns the exception contract of
      ``session.go:236-241`` may always touch). A ``Put`` to an
      UNdeclared new field is visible to later script logic but not
      exported — declare it in ``fields`` to keep it.
    * ``timeout`` → ``max_ops`` op budget (default 2M per event): a
      wall clock is meaningless across executor speeds; exceeding it
      raises the reference's literal timeout error and follows the
      exception contract.
    * On a JS exception: ``tag_on_exception`` (default
      ``_js_exception``) is appended to ``tags``, the message to
      ``error.message``, and the event passes through with whatever
      mutations it already had — exactly runProcessFunc's contract.

    SQL NULL crosses into JS as ``null``; ``undefined`` and ``null``
    results both export as NULL.
    """
    source = cfg.get("source")
    file_ = cfg.get("file")
    files = cfg.get("files")
    n_set = sum(1 for x in (source, file_, files) if x)
    if n_set != 1:
        raise ValueError("javascript must be defined via 'file', "
                         "'files', or inline as 'source' (exactly one)")
    if file_:
        files = [file_]
    if files:
        parts = []
        for f in files:
            with open(f, "r", encoding="utf-8") as fh:
                parts.append(fh.read())
        source = "\n;\n".join(parts)

    params = cfg.get("params")
    tag_on_exception = cfg.get("tag_on_exception", "_js_exception")
    max_ops = int(cfg.get("max_ops", 2_000_000))
    declared = dict(cfg.get("fields", {}))

    # driver-side validation: parse errors, missing process(), failing
    # test() all surface at pipeline-build time like NewFromConfig
    from ..functions import minijs
    minijs.compile_script(source, params=params, max_ops=max_ops)

    params_key = repr(sorted((params or {}).items()))

    def make(df: DataFrame) -> ProcResult:
        out_fields = list(df.schema.fields)
        have = {f.name for f in out_fields}
        for name, typ in declared.items():
            if name not in have:
                out_fields.append(
                    T.StructField(name, T._parse_datatype_string(typ)))
                have.add(name)
        if "tags" not in have:
            out_fields.append(
                T.StructField("tags", T.ArrayType(T.StringType())))
        if "error.message" not in have:
            out_fields.append(
                T.StructField("error.message", T.StringType()))
        schema = T.StructType(out_fields)
        int_cols = {f.name for f in out_fields
                    if isinstance(f.dataType, (T.LongType, T.IntegerType,
                                               T.ShortType, T.ByteType))}
        col_names = [f.name for f in out_fields]

        def run_batches(pdfs: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
            script = _js_session(source, params_key, params, max_ops)
            for pdf in pdfs:
                rows_out = []
                for row in pdf.to_dict("records"):
                    fields = {}
                    for k, v in row.items():
                        if hasattr(v, "item"):      # numpy scalar
                            v = v.item()
                        elif hasattr(v, "tolist"):  # numpy array
                            v = v.tolist()
                        if v is not None and not isinstance(
                                v, (list, dict)) and pd.isna(v):
                            v = None
                        fields[k] = v
                    evt = minijs.Event(fields)
                    try:
                        res = script.run(evt)
                    except minijs.JSError as e:
                        if tag_on_exception:
                            minijs._append_string(
                                evt.fields, "tags", tag_on_exception,
                                always_array=True)
                        minijs._append_string(
                            evt.fields, "error.message",
                            f"failed in process function: {e}",
                            always_array=False)
                        res = evt
                    if res is None:      # Cancel()
                        continue
                    out_row = []
                    for name in col_names:
                        v = evt.ms_get(name)
                        if v is minijs.UNDEFINED:
                            v = None
                        elif name in int_cols and isinstance(v, float) \
                                and v.is_integer():
                            v = int(v)
                        out_row.append(v)
                    rows_out.append(out_row)
                yield pd.DataFrame(rows_out, columns=col_names)

        def reshape(d: DataFrame) -> DataFrame:
            return d.mapInPandas(run_batches, schema)
        return ProcResult(reshape=reshape)
    return make


@register("script")
def script(cfg: Mapping[str, Any]):
    """User-extension hook. Three forms:

    * ``source``/``file``/``files`` — real JavaScript through the
      in-repo ES5 interpreter, the reference's actual surface
      (``script/javascript/javascript.go:195``): see
      :func:`_script_js`.
    * ``columns`` — dict of output column → Column expression
      (zero-cost, stays in codegen).
    * ``batch_fn`` + ``schema`` — Arrow-batched python via
      ``mapInPandas``.
    """
    if cfg.get("source") or cfg.get("file") or cfg.get("files"):
        return _script_js(cfg)
    columns = cfg.get("columns")
    batch_fn = cfg.get("batch_fn")
    schema = cfg.get("schema")

    def make(df: DataFrame) -> ProcResult:
        if columns:
            return ProcResult(assigns=dict(columns))
        if batch_fn is None:
            return ProcResult()

        def reshape(d: DataFrame) -> DataFrame:
            return d.mapInPandas(batch_fn, schema or d.schema)
        return ProcResult(reshape=reshape)
    return make
