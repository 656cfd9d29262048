"""Lookup enrich: the point lookup against side state behind every
lookup processor (SURVEY.md §2.5) — ``dns``, ``cache``,
``translate_sid``, ``translate_ldap_attribute``,
``add_{docker,kubernetes,process}_metadata`` and the shipped pipeline's
host and lang enrich.

The reference looks each event up in a TTL'd cache filled per miss
(``dns/cache.go``). Here the whole lookup frame is the cache, and one
decision, made from its content, picks how a plan probes it:

- at most ``FOLD_MAX_ROWS`` rows of types a JSON literal carries
  exactly, keyed by a column of the event key's type: the lookup is
  collected once per lookup frame and folded into the plan as a
  ``key → struct`` map literal, so a run spends no job on it;
- otherwise a broadcast left join (``broadcast_enrich``), shipped once
  per executor; the fact table never shuffles either way.

Both give the same columns, schema and rows (``enrich``). This module
imports no processor: the shipped pipeline reaches it without loading
the registry.

Lookup frames held in the driver are local relations (``local_frame``):
Spark reads them, and the fold above collects them, in the driver,
with no job and no Python worker.
"""

from __future__ import annotations

import json
import weakref
from typing import (Dict, Iterable, List, Mapping, Optional, Sequence,
                    Tuple)

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, BooleanType, DataType, DoubleType, FloatType, IntegralType,
    StringType, StructField, StructType, _parse_datatype_string)

__all__ = ["FOLD_MAX_ROWS", "broadcast_enrich", "enrich", "enrich_assigns",
           "local_frame"]

# Lookups of at most this many rows are folded into the plan; larger
# ones are broadcast joins. Spark looks a key up in a map literal by a
# linear scan. Measured on a 4-vCPU VM (local[4], pyspark 4.1, 2M string
# keys, 3 looked-up columns): the folded lookup costs ~0.1 µs per row at
# 16 keys, ~0.4 µs at 512 and ~0.9 µs at 1024, against ~0.1 µs for a
# broadcast probe, but every broadcast join costs its run ~0.3 s of
# jobs. At 1024 keys the fold is still cheaper for runs of up to ~400k
# events (a snapshot run here is 1k–32k); at 2048 keys (~1.3 µs) the
# break-even falls to ~240k.
FOLD_MAX_ROWS = 1024

# lookup frame → {(key, source columns): map literal, or None when the
# lookup cannot be folded; _enrich_step's arguments: its result}. Weakly
# keyed, so an entry lives exactly as long as its frame, and it holds
# Columns only, never a frame; two threads planning over a new frame at
# once build the same entries, and either may be kept.
_folded: "weakref.WeakKeyDictionary[DataFrame, dict]" = \
    weakref.WeakKeyDictionary()


def local_frame(spark: SparkSession, rows: Iterable[Sequence],
                ddl: str) -> DataFrame:
    """A frame of the driver-held ``rows`` with the schema ``ddl``, as a
    local relation (``LocalTableScan``).

    ``createDataFrame`` over a Python list plans as a scan of a Python
    RDD: reading it, even to collect it, runs a Spark job and forks the
    Python workers, which then stay for the life of the session. Over an
    Arrow table it is a ``LocalRelation``, which the driver reads in the
    JVM."""
    schema = _parse_datatype_string(ddl)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                 to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


def enrich_assigns(
    columns: Sequence[str],
    values: Sequence[Column],
    miss: Column,
    fields: Mapping[str, str],
    action: str = "append",
    tag_on_failure: str | None = None,
) -> dict:
    """The output columns of an enrich, whatever the lookup mechanism:
    ``values[i]`` is the looked-up value of the i-th entry of ``fields``
    and ``miss`` is true on rows without a lookup match. ``columns`` are
    the input frame's columns."""
    assigns = {}
    for new, dst in zip(values, fields.values()):
        if action == "append" and dst in columns:
            assigns[dst] = F.coalesce(F.col(dst), new)
        else:
            assigns[dst] = new
    if tag_on_failure:
        prev = (F.coalesce(F.col("log_flags"), F.array().cast("array<string>"))
                if "log_flags" in columns else F.array().cast("array<string>"))
        assigns["log_flags"] = F.when(
            miss, F.array_union(prev, F.array(F.lit(tag_on_failure)))
        ).otherwise(prev)
    return assigns


def broadcast_enrich(
    df: DataFrame,
    lookup: DataFrame,
    on: str,
    lookup_key: str,
    fields: Mapping[str, str],
    action: str = "append",
    tag_on_failure: str | None = None,
) -> DataFrame:
    """The enrich as a broadcast left join of ``lookup`` on
    ``df[on] == lookup[lookup_key]``.

    ``fields`` maps lookup column → output column. ``action`` mirrors
    ``dns/config.go:32-51``: ``append`` keeps an existing non-null
    output value, ``replace`` overwrites. ``tag_on_failure`` appends a
    tag to ``log_flags`` for rows with no lookup match.
    """
    sel = [F.col(lookup_key).alias("__k")] + [
        F.col(src).alias(f"__v_{i}") for i, src in enumerate(fields)]
    right = lookup.select(*sel).dropDuplicates(["__k"])
    joined = df.join(F.broadcast(right), df[on] == F.col("__k"), "left")
    out = joined.withColumns(enrich_assigns(
        df.columns, [F.col(f"__v_{i}") for i in range(len(fields))],
        F.col("__k").isNull(), fields, action, tag_on_failure))
    return out.drop("__k", *[f"__v_{i}" for i in range(len(fields))])


def _json_typed(dt) -> bool:
    """Whether values of this type survive the JSON round trip exactly."""
    return dt == StringType() or isinstance(
        dt, (IntegralType, BooleanType, FloatType, DoubleType))


def _folded_lookup(lookup: DataFrame, key: str,
                   fields: Mapping[str, str]) -> Optional[Column]:
    """``lookup`` as a ``key → struct(v0, v1, ...)`` map literal over its
    ``fields`` source columns, or None when it has more than
    ``FOLD_MAX_ROWS`` rows or a type the literal cannot carry. Collected
    once per lookup frame object; the first row of a duplicated key
    wins and null keys are dropped, as no join matches them."""
    cache = _folded.setdefault(lookup, {})
    ck = (key, tuple(fields))
    if ck in cache:
        return cache[ck]
    sel = lookup.select(key, *fields)
    types = [f.dataType for f in sel.schema.fields]
    folded = None
    if ((types[0] == StringType() or isinstance(types[0], IntegralType))
            and all(_json_typed(t) for t in types[1:])):
        rows = sel.limit(FOLD_MAX_ROWS + 1).collect()
        if len(rows) <= FOLD_MAX_ROWS:
            entries: Dict = {}
            for r in rows:
                if r[0] is not None:
                    entries.setdefault(r[0], r[1:])
            value_type = StructType([StructField(f"v{i}", t)
                                     for i, t in enumerate(types[1:])])
            payload = json.dumps([
                {"k": k, "v": {f"v{i}": x for i, x in enumerate(v)}}
                for k, v in entries.items()])
            # one string literal: the optimizer folds the parse into a
            # map literal, so the plan carries no per-row JSON work
            folded = F.map_from_entries(F.from_json(F.lit(payload), ArrayType(
                StructType([StructField("k", types[0]),
                            StructField("v", value_type)]))))
    cache[ck] = folded
    return folded


def _enrich_step(lookup: DataFrame, on: str, lookup_key: str,
                 fields: Mapping[str, str], action: str,
                 tag_on_failure: Optional[str], columns: Tuple[str, ...],
                 key_type: Optional[DataType]
                 ) -> Tuple[Optional[List[Column]], Tuple[str, ...]]:
    """The enrich of a frame of ``columns``, whose ``on`` column is of
    ``key_type``, through ``lookup`` keyed on ``lookup_key``: the select
    list that applies it with the lookup folded into the plan, or None
    when it stays a ``broadcast_enrich`` join; and the columns of the
    enriched frame. Built once per lookup frame and arguments. The
    lookup folds only when its key column is of ``key_type``.

    The select list is ``withColumns(enrich_assigns(...))`` as one
    select, with the kept columns as one ``*`` when none is replaced:
    each list entry costs a py4j call per select."""
    cache = _folded.setdefault(lookup, {})
    ck = (on, lookup_key, tuple(fields.items()), action, tag_on_failure,
          columns, key_type)
    if ck in cache:
        return cache[ck]
    folded = (_folded_lookup(lookup, lookup_key, fields)
              if lookup.schema[lookup_key].dataType == key_type else None)
    # a broadcast join sets the same columns from its join output
    hit = folded[F.col(on)] if folded is not None else F.lit(None)
    assigns = enrich_assigns(
        columns, [hit.getField(f"v{i}") for i in range(len(fields))],
        hit.isNull(), fields, action, tag_on_failure)
    new = [c for c in assigns if c not in columns]
    step = None
    if folded is not None:
        kept = ([assigns[c].alias(c) if c in assigns else F.col(c)
                 for c in columns]
                if len(new) < len(assigns) else [F.col("*")])
        step = kept + [assigns[c].alias(c) for c in new]
    cache[ck] = step, columns + tuple(new)
    return cache[ck]


def enrich_columns(df: DataFrame, columns: Tuple[str, ...],
                   key_type: Optional[DataType], lookup: DataFrame, on: str,
                   lookup_key: str, fields: Mapping[str, str],
                   action: str = "append",
                   tag_on_failure: Optional[str] = None
                   ) -> Tuple[DataFrame, Tuple[str, ...]]:
    """``enrich`` of ``df``, whose ``columns`` and ``on`` column's
    ``key_type`` the caller already knows, and the enriched columns:
    a plan built from known columns asks Spark for no schema."""
    step, enriched = _enrich_step(lookup, on, lookup_key, fields, action,
                                  tag_on_failure, columns, key_type)
    if step is None:
        return broadcast_enrich(df, lookup, on, lookup_key, fields, action,
                                tag_on_failure), enriched
    return df.select(*step), enriched


def enrich(
    df: DataFrame,
    lookup: DataFrame,
    on: str,
    lookup_key: str,
    fields: Mapping[str, str],
    action: str = "append",
    tag_on_failure: str | None = None,
) -> DataFrame:
    """``broadcast_enrich`` — same arguments, columns, schema and rows —
    with the lookup folded into the plan when it is small and keyed by
    a column of ``df[on]``'s type.

    The folded data is the lookup frame's content when first seen: a
    caller who wants fresh lookup data passes a new frame."""
    schema = df.schema
    columns = tuple(schema.names)
    key_type = schema[on].dataType if on in columns else None
    return enrich_columns(df, columns, key_type, lookup, on, lookup_key,
                          fields, action, tag_on_failure)[0]
