"""Checkpoint / resume: the statestore re-imagined for batch.

The reference persists per-file ``{offset, eof}`` cursors in an
append-only op-log with periodic checkpoints
(``libbeat/statestore/backend/memlog/store.go:36-228``) so a restart
resumes without re-shipping. Spark's unit of progress is not a byte
offset but an **input snapshot** (an Iceberg snapshot id, or here a
content-addressed id of the input batch): a watermark table records
completed ``(run_id, snapshot_id)`` pairs, each run writes its outputs
under an idempotent per-run prefix, and a re-run skips snapshots already
marked done — at-least-once task execution + atomic directory commit ≈
the reference's ACK-then-persist ordering
(``input-logfile/publish.go:29-119``).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from typing import List, Optional

from pyspark.sql import DataFrame

__all__ = ["Watermarks", "new_run_id"]


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


class Watermarks:
    """Tiny JSON-lines watermark log (one file per completed run —
    atomic rename, no concurrent-writer conflicts at driver level;
    the Iceberg-backed deployment swaps this for a snapshot-id table)."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, "_watermarks")
        os.makedirs(self.dir, exist_ok=True)

    def processed_snapshots(self) -> List[str]:
        out = []
        for name in sorted(os.listdir(self.dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    out.append(json.load(f)["snapshot_id"])
        return out

    def is_processed(self, snapshot_id: str) -> bool:
        return snapshot_id in self.processed_snapshots()

    def record(self, snapshot_id: str, run_id: str,
               events_total: int) -> None:
        tmp = os.path.join(self.dir, f".{run_id}.tmp")
        final = os.path.join(self.dir, f"{run_id}.json")
        with open(tmp, "w") as f:
            json.dump({
                "snapshot_id": snapshot_id,
                "run_id": run_id,
                "events_total": events_total,
                "completed_at": time.time(),
            }, f)
        os.replace(tmp, final)  # the atomic "ACK"


def snapshot_id_of(df: DataFrame) -> Optional[str]:
    """Content-addressed id for a parquet-backed input: the sorted file
    list (the moral equivalent of an Iceberg snapshot id: same files ⇒
    same snapshot). None for a frame without input files (an in-memory
    frame): it has no identity to resume by."""
    files = sorted(df.inputFiles())
    if not files:
        return None
    return hashlib.sha256("\n".join(files).encode()).hexdigest()[:16]
