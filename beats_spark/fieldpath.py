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

from pyspark.sql import types as T

__all__ = ["field_type"]


def field_type(schema: T.StructType, path: str) -> Optional[T.DataType]:
    """DataType at ``path`` or None if absent (mapstr.GetValue analog)."""
    parts = path.split(".")
    cur: T.DataType = schema
    for p in parts:
        if not isinstance(cur, T.StructType) or p not in cur.fieldNames():
            return None
        cur = cur[p].dataType
    return cur

