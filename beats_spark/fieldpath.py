"""Dot-path field access over typed Catalyst schemas.

The reference event model is a dynamic nested map addressed by
dot-notation paths (``libbeat/beat/event.go:84-104``; mapstr deep
get). Here the event is a Row with a *declared* schema — Catalyst needs
types to prune and push down — so dot-paths map onto nested
``StructType`` columns. A path like ``log.flags`` is the ``flags`` field
of the ``log`` struct column.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

__all__ = ["get_field", "has_field", "field_type"]


def get_field(df: DataFrame, path: str) -> Column:
    """Column for a dot-path; works for top-level and nested struct fields."""
    return F.col(path)


def field_type(schema: T.StructType, path: str) -> Optional[T.DataType]:
    """DataType at ``path`` or None if absent (mapstr.GetValue analog)."""
    parts = path.split(".")
    cur: T.DataType = schema
    for p in parts:
        if not isinstance(cur, T.StructType) or p not in cur.fieldNames():
            return None
        cur = cur[p].dataType
    return cur


def has_field(df: DataFrame, path: str) -> bool:
    """Schema-level existence check (conditions.has_fields resolves at
    plan time — a declared schema either has the column or it doesn't,
    unlike the per-event check in ``conditions/has_fields.go:31``;
    per-row null-ness is a separate ``isNotNull`` predicate)."""
    return field_type(df.schema, path) is not None
