"""Spark integration for the dissect tokenizer.

The reference runs the tokenizer serially per event
(``libbeat/processors/dissect/processor.go:64-120``). Here a tokenizer
that ``Dissector.to_regex`` expresses as one regex runs as Catalyst
``regexp_extract`` expressions (``dissect_columns``, the parse the
shipped pipeline runs too), so the plan has no Python node. The
tokenizers a regex cannot express (append, indirect, greedy padding,
fixed length, trimming) run in an Arrow-batched pandas UDF that returns
a ``map<string,string>`` column. Either way the keys become typed
top-level columns through plain Catalyst ``cast`` expressions, so
everything downstream stays JVM-side and prunable.

Config parity (``dissect/config.go:34-47``): ``field`` (default
``message``), ``target_prefix`` (default ``dissect``; empty = root),
``ignore_failure``, ``overwrite_keys``, ``trim_values``, ``trim_chars``.
Parse failure tags ``log.flags += dissect_parsing_error``
(``dissect/processor.go:94-104``).
"""

from __future__ import annotations

from typing import Dict, Iterator, Optional, Tuple

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from .tokenizer import Dissector

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
_MAP = "__dissect_map"


def cast_for(data_type: str, col: Column) -> Column:
    """Catalyst cast matching dissect's |type conversion
    (``dissect/dissect.go:249-285``): trailing-space strip, 0x hex ints,
    fall back handled by null (Spark cast yields null on failure, the
    closest declarative analog to keep-as-string)."""
    v = F.rtrim(col)
    if data_type in ("integer", "long"):
        tgt = _SPARK_TYPES[data_type]
        hex_val = F.conv(F.regexp_replace(v, r"^0[xX]", ""), 16, 10).try_cast(tgt)
        return F.when(v.rlike(r"^0[xX][0-9a-fA-F]+$"), hex_val).otherwise(
            v.try_cast(tgt)
        )
    if data_type == "boolean":
        return F.when(v.isin("1", "t", "T", "TRUE", "true", "True"), F.lit(True)).when(
            v.isin("0", "f", "F", "FALSE", "false", "False"), F.lit(False)
        ).otherwise(F.lit(None).cast("boolean"))
    if data_type == "ip":
        return F.when(
            v.rlike(r"^((25[0-5]|2[0-4]\d|1?\d?\d)\.){3}(25[0-5]|2[0-4]\d|1?\d?\d)$")
            | v.contains(":"),
            v,
        ).otherwise(F.lit(None).cast("string"))
    return v.try_cast(_SPARK_TYPES.get(data_type, T.StringType()))


def _typed(dissector: Dissector, key: str, raw: Column) -> Column:
    dt = dissector.data_types.get(key)
    return cast_for(dt, raw) if dt else raw


def dissect_columns(message: Column, dissector: Dissector
                    ) -> Optional[Tuple[Column, Dict[str, Column]]]:
    """The tokenizer as Catalyst expressions over ``message``: the
    parse-ok predicate and each key's typed column, in
    ``dissector.keys`` order. None when ``Dissector.to_regex`` cannot
    express the tokenizer.

    A null or empty message is a parse failure (``dissect.go:57-62``),
    and a failed message carries no key values. A key the tokenizer
    names twice takes its last value, as the find() loop assigns it."""
    rx = dissector.to_regex()
    if rx is None:
        return None
    pattern, groups = rx
    ok = F.coalesce(message.rlike(pattern) & (F.length(message) > 0),
                    F.lit(False))
    group = {k: i for i, k in enumerate(groups, 1)}  # the last one wins
    return ok, {k: _typed(dissector, k, F.when(
        ok, F.regexp_extract(message, pattern, group[k])))
        for k in dissector.keys}


def _dissect_map_col(col: Column, dissector: Dissector) -> Column:
    """``map<string,string>`` of extracted keys; null map = parse failure.

    Arrow-batched: the Dissector compiles once per executor (closure
    capture), then runs a tight find()-loop per batch.
    """
    @F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def _dissect(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        safe = dissector.dissect_safe
        for s in it:
            yield s.map(safe)

    return _dissect(col)


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
    ``|type`` keys, and tag failures in the ``log_flags`` array column.

    The keys come from ``dissect_columns`` when a regex expresses the
    tokenizer, else from the pandas UDF's map column, which is dropped
    again. The reference nests under ``target_prefix`` in the event map
    (``processor.go:126+``); with a declared schema we flatten to
    prefixed top-level columns so Catalyst prunes per-key.
    """
    d = Dissector(tokenizer, trim_values=trim_values, trim_chars=trim_chars)
    built = dissect_columns(F.col(field), d)
    mapped = built is None
    if mapped:
        df = df.withColumn(_MAP, _dissect_map_col(F.col(field), d))
        m = F.col(_MAP)
        built = m.isNotNull(), {k: _typed(d, k, F.element_at(m, k))
                                for k in d.keys}
    ok, keys = built

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
    df = df.withColumns(columns)
    return df.drop(_MAP) if mapped else df
