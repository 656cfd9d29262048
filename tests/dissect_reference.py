"""The Python reference the Catalyst dissect (``dissect_columns``) is
held to: ``Dissector.dissect_safe`` for the keys and ``convert_value``
for their ``|type``, read as a typed column holds them."""

import ipaddress
import math
import struct

from pyspark.sql import functions as F

from beats_spark.dissect import FLAG_PARSING_ERROR, Dissector, convert_value
from beats_spark.dissect.spark import dissect_columns
from beats_spark.lookup import local_frame

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")
_EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"
_LOCAL_FOLD = ("org.apache.spark.sql.catalyst.optimizer."
               "ConvertToLocalRelation")


def plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def typed_reference(data_type, raw):
    """``convert_value`` as a typed column holds it: a value that does
    not convert is null; an ip keeps its text when it parses."""
    if raw is None or not data_type:
        return raw
    value = convert_value(data_type, raw)
    if data_type == "string":
        return value
    if data_type == "ip":
        try:
            ipaddress.ip_address(value)
        except ValueError:
            return None
        return value
    if isinstance(value, str):
        return None
    if data_type == "float":
        try:
            return struct.unpack("f", struct.pack("f", value))[0]
        except OverflowError:
            return math.copysign(math.inf, value)
    return value


def reference_keys(d: Dissector, message):
    """None when ``message`` does not dissect, else each key's typed
    value."""
    kv = d.dissect_safe(message)
    if kv is None:
        return None
    return {k: typed_reference(d.data_types.get(k), kv.get(k))
            for k in d.keys}


def catalyst_keys(spark, d: Dissector, messages):
    """``dissect_columns`` over ``messages`` in one query, read the way
    ``reference_keys`` reads the reference. The plan has no Python
    node, and it runs as generated code, the way a scan's rows run:
    the optimizer does not fold it into a local relation."""
    df = local_frame(spark, list(enumerate(messages)),
                     "id int, message string")
    ok, keys = dissect_columns(F.col("message"), d)
    out = df.select("id", ok.alias("_ok"),
                    *(v.alias(f"_k{i}") for i, v in enumerate(keys.values())))
    spark.conf.set(_EXCLUDED_RULES, _LOCAL_FOLD)
    try:
        for node in PYTHON_NODES:
            assert node not in plan(out), node
        rows = sorted(out.collect(), key=lambda r: r.id)
    finally:
        spark.conf.unset(_EXCLUDED_RULES)
    return [{k: r[f"_k{i}"] for i, k in enumerate(keys)} if r._ok else None
            for r in rows]


def assert_catalyst_matches(spark, d: Dissector, messages):
    got = catalyst_keys(spark, d, messages)
    for message, g in zip(messages, got):
        assert g == reference_keys(d, message), (d.raw, message)


def reference_apply(rows, tokenizer, target_prefix="dissect",
                    overwrite_keys=False, **kwargs):
    """``apply_dissect`` over row dicts, by the reference: the prefixed
    typed keys (a clashing column kept unless ``overwrite_keys``) and
    ``log_flags`` with the parse-error flag added once on failure."""
    d = Dissector(tokenizer, **kwargs)
    out = []
    for row in rows:
        r = dict(row)
        kv = reference_keys(d, row["message"])
        for k in d.keys:
            name = f"{target_prefix}_{k}" if target_prefix else k
            if overwrite_keys or name not in row:
                r[name] = None if kv is None else kv[k]
        flags = row["log_flags"] if "log_flags" in row else []
        if kv is None:
            flags = list(dict.fromkeys((flags or []) + [FLAG_PARSING_ERROR]))
        r["log_flags"] = flags
        out.append(r)
    return out
