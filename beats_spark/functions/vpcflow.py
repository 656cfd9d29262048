"""AWS VPC Flow Log parser — a Spark-first port of the reference's
``x-pack/filebeat/processors/aws_vpcflow`` (parse_aws_vpc_flow_log):

- field table + ECS mappings: ``aws_vpcflow/mapping.go:38-383``
  (every v2–v8 field, the protocol→transport name map, ACCEPT/REJECT
  outcome/action/type transforms, the tcp_flags bit-name enrich, the
  ipv4/ipv6 network.type probe, related.ip first-occurrence dedup);
- format grammar + multi-format match-by-field-count:
  ``parse_aws_vpc_flow_log.go:104-120`` + ``config.go:94-117``
  (dashes normalize to underscores, each format must have a unique
  field count);
- type conversions: ``types.go:43-83`` (int/long, IP validation,
  epoch-seconds timestamps); a ``-`` value is skipped (NULL);
- modes: ``config.go:16-20`` — ``original`` keeps the raw fields
  under the target namespace, ``ecs`` maps to ECS and keeps only
  UNMAPPED originals, ``ecs_and_original`` keeps both;
- failure contract: ``parse_aws_vpc_flow_log.go:86-120`` — a field
  count matching no format, or a token failing its type, errors the
  event (here: all parse outputs NULL + ``error_message``), leaving
  the original message untouched.

Everything compiles to JVM column expressions — split, element_at,
try_cast, when-chains — zero Python in the per-row path. The one
deliberate divergence: Go's ``strconv.ParseInt(v, 0, 64)`` accepts
``0x``/``0o`` prefixes that never occur in VPC flow logs; numeric
tokens here parse base-10 only (a hex token fails the row loudly,
which is also what AWS emits: none).
"""

from __future__ import annotations

from typing import Any, Dict, List, Mapping, Sequence, Tuple

from pyspark.sql import Column, functions as F

__all__ = ["parse_vpc_format", "vpc_flow_columns", "VPC_FIELDS",
           "V5_FORMAT"]

# name -> dtype in {"string","int","long","ip","timestamp"}
# mirrors the order-independent nameToFieldMap (mapping.go:29-36)
VPC_FIELDS: Dict[str, str] = {
    "version": "int", "account_id": "string", "interface_id": "string",
    "srcaddr": "ip", "dstaddr": "ip", "srcport": "int",
    "dstport": "int", "protocol": "int", "packets": "long",
    "bytes": "long", "start": "timestamp", "end": "timestamp",
    "action": "string", "log_status": "string", "vpc_id": "string",
    "subnet_id": "string", "instance_id": "string",
    "tcp_flags": "int", "type": "string", "pkt_srcaddr": "ip",
    "pkt_dstaddr": "ip", "region": "string", "az_id": "string",
    "sublocation_type": "string", "sublocation_id": "string",
    "pkt_src_aws_service": "string", "pkt_dst_aws_service": "string",
    "flow_direction": "string", "traffic_path": "int",
    "resource_type": "string", "tgw_id": "string",
    "tgw_attachment_id": "string", "tgw_src_vpc_account_id": "string",
    "tgw_dst_vpc_account_id": "string", "tgw_src_vpc_id": "string",
    "tgw_dst_vpc_id": "string", "tgw_src_subnet_id": "string",
    "tgw_dst_subnet_id": "string", "tgw_src_eni": "string",
    "tgw_dst_eni": "string", "tgw_src_az_id": "string",
    "tgw_dst_az_id": "string", "tgw_pair_attachment_id": "string",
    "packets_lost_no_route": "long", "packets_lost_blackhole": "long",
    "packets_lost_mtu_exceeded": "long",
    "packets_lost_ttl_expired": "long",
    "ecs_cluster_arn": "string", "ecs_cluster_name": "string",
    "ecs_container_instance_arn": "string",
    "ecs_container_instance_id": "string", "ecs_container_id": "string",
    "ecs_second_container_id": "string", "ecs_service_name": "string",
    "ecs_task_definition_arn": "string", "ecs_task_arn": "string",
    "ecs_task_id": "string", "reject_reason": "string",
}

# simple-copy ECS mappings (mapping.go; dotted targets flattened to
# the repo's underscore convention). Transform-backed targets are
# compiled inline in vpc_flow_columns.
ECS_COPIES: Dict[str, List[str]] = {
    "account_id": ["cloud_account_id"],
    "srcaddr": ["source_address", "source_ip"],
    "dstaddr": ["destination_address", "destination_ip"],
    "srcport": ["source_port"],
    "dstport": ["destination_port"],
    "packets": ["source_packets", "network_packets"],
    "bytes": ["source_bytes", "network_bytes"],
    "start": ["event_start"],
    "end": ["event_end", "@timestamp"],
    "instance_id": ["cloud_instance_id"],
    "region": ["cloud_region"],
    "az_id": ["cloud_availability_zone"],
    "flow_direction": ["network_direction"],
    "ecs_cluster_arn": ["orchestrator_cluster_id"],
    "ecs_cluster_name": ["orchestrator_cluster_name"],
    "ecs_container_instance_arn": ["orchestrator_resource_name"],
    "ecs_container_instance_id": ["orchestrator_resource_id"],
    "ecs_container_id": ["container_id"],
    "ecs_service_name": ["service_name"],
    "reject_reason": ["event_reason"],
}
# fields with transform-only / extra ECS outputs (so "has a mapping"
# checks — which decide whether ecs mode drops the original — agree
# with mapping.go even where every target is transform-backed)
_HAS_MAPPING = set(ECS_COPIES) | {"protocol", "action"}

# protocol number -> network.transport name (mapping.go:108-133)
PROTO_NAMES = {0: "hopopt", 1: "icmp", 2: "igmp", 6: "tcp",
               8: "egp", 17: "udp", 47: "gre", 50: "esp",
               58: "ipv6-icmp", 112: "vrrp", 132: "sctp"}

TCP_FLAG_NAMES = [(0x01, "fin"), (0x02, "syn"), (0x04, "rst"),
                  (0x08, "psh"), (0x10, "ack"), (0x20, "urg")]

# the AWS default v5 format (docs; also the shape config_test.go uses)
V5_FORMAT = ("version account-id interface-id srcaddr dstaddr "
             "srcport dstport protocol packets bytes start end "
             "action log-status")

# an address field is valid where the conditions module's address
# parse reads it (net.ParseIP, which the reference's types.go uses)
from ..conditions import _is_ip                      # noqa: E402


def parse_vpc_format(format_str: str) -> List[Tuple[str, str]]:
    """Format string → ordered ``[(field, dtype), ...]``
    (``config.go:94-117``): dashes normalize to underscores, unknown
    names fail loudly."""
    toks = format_str.split()
    if not toks:
        raise ValueError("vpcflow: format must contain at least "
                         "one field")
    out = []
    for t in toks:
        name = t.replace("-", "_")
        if name not in VPC_FIELDS:
            raise ValueError(f"vpcflow: unknown field {t!r}")
        out.append((name, VPC_FIELDS[name]))
    return out


def _typed(raw: Column, dtype: str) -> Column:
    """'-' → NULL; else the typed value (NULL when unparseable —
    the ok-predicate reports that as a row failure)."""
    miss = raw.isNull() | (raw == "-")
    if dtype == "int":
        v = raw.try_cast("int")
    elif dtype == "long":
        v = raw.try_cast("long")
    elif dtype == "timestamp":
        v = F.timestamp_seconds(raw.try_cast("long"))
    elif dtype == "ip":
        v = F.when(_is_ip(raw), raw)
    else:
        v = raw
    return F.when(~miss, v)


def _ok(raw: Column, dtype: str) -> Column:
    """Does this token parse? ('-' and absent always do.)"""
    miss = raw.isNull() | (raw == "-")
    if dtype in ("int", "long", "timestamp"):
        good = raw.try_cast("long").isNotNull()
    elif dtype == "ip":
        good = _is_ip(raw)
    else:
        good = F.lit(True)
    return miss | good


def _one_format(line: Column, fields: Sequence[Tuple[str, str]],
                mode: str, target: str) -> Tuple[Column, Dict[str, Column]]:
    """Compile one format: returns (row_ok, {column: value})."""
    arr = F.split(F.trim(line), r"\s+")
    # try_element_at: a short message must read as NULL tokens (the
    # count gate already fails the row), not throw under ANSI mode
    raws = {name: F.try_element_at(arr, F.lit(i + 1))
            for i, (name, _) in enumerate(fields)}
    vals = {name: _typed(raws[name], dt) for name, dt in fields}
    ok = F.lit(True)
    for name, dt in fields:
        ok = ok & _ok(raws[name], dt)

    out: Dict[str, Column] = {}
    present = {name for name, _ in fields}

    def put(col_name: str, value: Column):
        out[col_name] = value

    # original fields under the target namespace: kept when mode is
    # not 'ecs', or when the field has no ECS mapping
    for name, dt in fields:
        if mode != "ecs" or name not in _HAS_MAPPING:
            put(f"{target}_{name}", vals[name])
            if name == "tcp_flags":
                flags = F.array_compact(F.array(*[
                    F.when(vals[name].bitwiseAND(bit) != 0, F.lit(nm))
                    for bit, nm in TCP_FLAG_NAMES]))
                put(f"{target}_tcp_flags_array",
                    F.when(vals[name].isNotNull()
                           & (F.size(flags) > 0), flags))

    if mode != "original":
        for name, targets in ECS_COPIES.items():
            if name in present:
                for t in targets:
                    put(t, vals[name])
        if "srcaddr" in present:
            put("network_type",
                F.when(vals["srcaddr"].isNotNull(),
                       F.when(vals["srcaddr"].contains("."), "ipv4")
                       .otherwise("ipv6")))
        if "protocol" in present:
            p = vals["protocol"]
            put("network_iana_number", p.cast("string"))
            name_chain = None
            for num, nm in PROTO_NAMES.items():
                w = F.when(p == num, F.lit(nm))
                name_chain = w if name_chain is None \
                    else name_chain.when(p == num, F.lit(nm))
            put("network_transport", name_chain)
        # event.type starts ["connection"] and appends
        # allowed/denied from the action transform
        ev_type = F.array(F.lit("connection"))
        if "action" in present:
            a = vals["action"]
            put("event_outcome",
                F.when(a == "ACCEPT", "success")
                .when(a == "REJECT", "failure"))
            put("event_action", F.lower(a))
            ev_type = F.when(a == "ACCEPT",
                             F.array(F.lit("connection"),
                                     F.lit("allowed"))) \
                .when(a == "REJECT",
                      F.array(F.lit("connection"), F.lit("denied"))) \
                .otherwise(ev_type)
        put("event_type", ev_type)
        ips = [vals[n] for n, dt in fields if dt == "ip"]
        if ips:
            put("related_ip",
                F.array_distinct(F.array_compact(F.array(*ips))))
    return ok, out


def vpc_flow_columns(
    line: Column,
    formats: "str | Sequence[str]",
    mode: str = "ecs",
    target: str = "aws_vpcflow",
) -> Dict[str, Column]:
    """Compile the processor into a dict of output columns. Several
    formats match by FIELD COUNT (each must be unique —
    ``config.go:69-86``); a message matching no format, or failing a
    type conversion, yields NULL outputs + ``error_message``. Pure
    codegen."""
    if mode not in ("original", "ecs", "ecs_and_original"):
        raise ValueError(f"vpcflow: invalid mode {mode!r}")
    fmt_list = [formats] if isinstance(formats, str) else list(formats)
    parsed = [parse_vpc_format(f) for f in fmt_list]
    counts = [len(p) for p in parsed]
    if len(set(counts)) != len(counts):
        raise ValueError("vpcflow: each format must have a unique "
                         "number of fields")
    n_tokens = F.size(F.split(F.trim(line), r"\s+"))

    compiled = [(n, *_one_format(line, p, mode, target))
                for n, p in zip(counts, parsed)]
    all_cols: List[str] = []
    for _, _, cols in compiled:
        for c in cols:
            if c not in all_cols:
                all_cols.append(c)

    out: Dict[str, Column] = {}
    any_ok = None
    for n, ok, _ in compiled:
        hit = (n_tokens == n) & ok
        any_ok = hit if any_ok is None else (any_ok | hit)
    for c in all_cols:
        chain = None
        for n, ok, cols in compiled:
            if c not in cols:
                continue
            hit = (n_tokens == n) & ok
            w = F.when(hit, cols[c])
            chain = w if chain is None else chain.when(hit, cols[c])
        out[c] = chain
    out["error_message"] = F.when(
        ~F.coalesce(any_ok, F.lit(False)),
        F.lit("log did not match the specified format"))
    return out
