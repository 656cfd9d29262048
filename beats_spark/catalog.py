"""Thin table catalog: Iceberg when the runtime has it, parquet +
snapshot manifest otherwise (SURVEY.md §7 risk item — this sandbox
ships no Iceberg jars, so the fallback is the tested path; the API is
the stable surface either way).

The fallback reproduces the Iceberg mechanics the pipeline depends on:

- **snapshots**: every commit writes an immutable directory
  ``<root>/<name>/snap-<id>/`` and appends a manifest line (id, parent,
  operation, row count, wall time, and the written frame's schema as
  ``StructType`` JSON) — the parquet analog of Iceberg's snapshot log
  (metadata.json / snapshot list). The row count is observed on the
  write itself; the recorded schema lets every read skip parquet schema
  inference (a Spark job per read). Manifest lines written before the
  schema field existed have none, and reads that touch them infer.
- **incremental reads**: ``pending(processed_ids)`` lists the
  unprocessed snapshots that added rows (a compaction or delete adds
  none) from the manifest alone and
  ``read_snapshots(ids)`` reads exactly those, as one frame — what
  Iceberg incremental scan / ``VERSION AS OF`` increments give, and the
  primitive the north_rule's "resume without reprocessing,
  checkpointed per snapshot" needs: the incremental pipeline drains
  what ``pending`` lists, minus the snapshots
  ``beats_spark.checkpoint.Watermarks`` has recorded, and
  ``snapshot_of`` tells it each row's snapshot from its file.
  ``read_incremental`` combines the two reads.
- **time travel**: ``read(as_of=snapshot_id)`` reads table state as of
  a snapshot (append-only union up to it; overwrite resets the chain).

Atomicity: a snapshot directory is written complete (Spark's own
commit protocol) before the manifest line is appended; a crash between
the two leaves an orphan directory that is never referenced. The
manifest itself is a LOCAL-filesystem file: concurrent committers on
one host are serialized with an ``fcntl`` lock (parent re-read inside
the lock, so no lost update), but that is as far as the fallback goes
— a shared/object-store root (HDFS/S3) that Spark can write parquet
to cannot hold this manifest; real multi-writer commits need the
Iceberg mode and its catalog swap. Single local writer is the designed
operating point.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import List, Optional, Sequence, Set, Tuple

from pyspark.sql import (Column, DataFrame, Observation, SparkSession,
                         functions as F)
from pyspark.sql.types import StructType


@dataclass
class Snapshot:
    snapshot_id: str
    parent_id: Optional[str]
    operation: str           # append | overwrite | compact | delete
    rows: int
    wall_time: float
    schema: Optional[str] = None     # StructType JSON; absent in old lines


# operations whose snapshot materializes the FULL table state, so the
# live chain restarts at them
_RESET_OPS = {"overwrite", "compact", "delete"}
# operations whose snapshot adds rows to the table
_ROW_OPS = {"append", "overwrite"}


class Table:
    """One logical table under ``root/name`` (parquet+manifest mode)."""

    def __init__(self, root: str, name: str):
        self.root = root
        self.name = name
        self.dir = os.path.join(root, name)
        self._manifest = os.path.join(self.dir, "_manifest.jsonl")
        os.makedirs(self.dir, exist_ok=True)

    # -- metadata ------------------------------------------------------

    def snapshots(self) -> List[Snapshot]:
        out: List[Snapshot] = []
        if not os.path.exists(self._manifest):
            return out
        with open(self._manifest) as f:
            for line in f:
                if line.strip():
                    out.append(Snapshot(**json.loads(line)))
        return out

    def snapshot_ids(self) -> List[str]:
        return [s.snapshot_id for s in self.snapshots()]

    def current_snapshot(self) -> Optional[str]:
        snaps = self.snapshots()
        return snaps[-1].snapshot_id if snaps else None

    def _snap_dir(self, snapshot_id: str) -> str:
        return os.path.join(self.dir, f"snap-{snapshot_id}")

    def _live_chain(self, as_of: Optional[str] = None) -> List[Snapshot]:
        """Snapshots contributing to table state (append-only since the
        last overwrite), optionally truncated at ``as_of``."""
        snaps = self.snapshots()
        if as_of is not None:
            keep = []
            for s in snaps:
                keep.append(s)
                if s.snapshot_id == as_of:
                    break
            else:
                raise ValueError(f"unknown snapshot {as_of!r}")
            snaps = keep
        chain: List[Snapshot] = []
        for s in snaps:
            if s.operation in _RESET_OPS:
                chain = [s]
            else:
                chain.append(s)
        return chain

    # -- commits -------------------------------------------------------

    def _commit(self, df: DataFrame, operation: str,
                partition_by: Sequence[str] = ()) -> str:
        sid = uuid.uuid4().hex[:16]
        path = self._snap_dir(sid)
        obs = Observation()
        w = df.observe(obs, F.count(F.lit(1)).alias("rows")) \
            .write.mode("errorifexists")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        rows = obs.get["rows"]
        # serialize concurrent local committers: take the lock FIRST,
        # then read the parent, so two writers can't both observe the
        # same current_snapshot and record duplicate parent ids
        import fcntl
        with open(self._manifest, "a") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            try:
                snap = Snapshot(snapshot_id=sid,
                                parent_id=self.current_snapshot(),
                                operation=operation, rows=rows,
                                wall_time=time.time(),
                                schema=df.schema.json())
                f.write(json.dumps(snap.__dict__) + "\n")
                f.flush()
            finally:
                fcntl.flock(f, fcntl.LOCK_UN)
        return sid

    def append(self, df: DataFrame,
               partition_by: Sequence[str] = ()) -> str:
        return self._commit(df, "append", partition_by)

    def overwrite(self, df: DataFrame,
                  partition_by: Sequence[str] = ()) -> str:
        return self._commit(df, "overwrite", partition_by)

    # -- maintenance (the Iceberg operational trio) --------------------

    def compact(self, spark: SparkSession,
                partition_by: Sequence[str] = ()) -> Optional[str]:
        """Small-file compaction: rewrite the live append chain into
        ONE snapshot (Iceberg's ``rewrite_data_files``). History is
        preserved — time travel to pre-compaction snapshots still
        works. Returns the new snapshot id, or None when the chain is
        already a single snapshot (no write, no new snapshot)."""
        if len(self._live_chain()) <= 1:
            return None
        return self._commit(self.read(spark), "compact", partition_by)

    def delete_where(self, spark: SparkSession, condition: str,
                     partition_by: Sequence[str] = ()) -> str:
        """Row-level delete as copy-on-write (Iceberg COW ``DELETE
        WHERE``): materialize the live state minus matching rows as a
        new snapshot. Rows where ``condition`` is NULL are KEPT (a
        delete predicate must affirmatively match — ``NOT (x)`` alone
        would silently drop NULL-predicate rows). Time travel to the
        pre-delete snapshot still shows the deleted rows; follow it
        with :meth:`expire_snapshots` for a purge that actually
        removes bytes."""
        kept = self.read(spark).filter(
            ~F.coalesce(F.expr(condition), F.lit(False)))
        return self._commit(kept, "delete", partition_by)

    def expire_snapshots(self) -> List[str]:
        """Remove the DATA of snapshots no longer referenced by the
        current live chain (Iceberg's ``expire_snapshots``) — the
        reclaim step after compaction/overwrite/delete. The manifest
        rows are kept as the audit trail, but time travel to an
        expired snapshot now raises (its data is gone), and so does a
        drain of an append that was still pending (:meth:`pending`):
        drain before expiring. Returns the expired snapshot ids."""
        import shutil
        live = {s.snapshot_id for s in self._live_chain()}
        expired: List[str] = []
        for s in self.snapshots():
            if s.snapshot_id in live:
                continue
            d = self._snap_dir(s.snapshot_id)
            if os.path.isdir(d):
                shutil.rmtree(d)
                expired.append(s.snapshot_id)
        return expired

    # -- reads ---------------------------------------------------------

    def read(self, spark: SparkSession,
             as_of: Optional[str] = None) -> DataFrame:
        chain = self._live_chain(as_of)
        if not chain:
            raise ValueError(f"table {self.name!r} has no snapshots")
        return self._read(spark, chain)

    def pending(self, processed: Set[str]) -> List[str]:
        """Ids of the snapshots that added rows (append, overwrite) since
        the last overwrite and are not in ``processed``, oldest first:
        what a resume still has to process. Reads only the manifest.

        A compact or delete snapshot rewrites rows already in the table
        and adds none, so it is never pending; an append it absorbed is
        still pending until processed, and reads from its own directory
        (so until :meth:`expire_snapshots` removes it)."""
        todo: List[str] = []
        for s in self.snapshots():
            if s.operation == "overwrite":
                todo = []
            if s.operation in _ROW_OPS:
                todo.append(s.snapshot_id)
        return [i for i in todo if i not in processed]

    def read_snapshots(self, spark: SparkSession,
                       snapshot_ids: Sequence[str]) -> DataFrame:
        """Rows of exactly these snapshots."""
        by_id = {s.snapshot_id: s for s in self.snapshots()}
        return self._read(spark, [by_id[i] for i in snapshot_ids])

    @staticmethod
    def snapshot_of(path: Column) -> Column:
        """The id of the snapshot that holds the data file at ``path``
        (a file URI, as ``input_file_name()`` gives it): the name of
        the last ``snap-<id>`` directory on the path, below which only
        ``column=value`` partition directories follow."""
        return F.substring_index(F.substring_index(path, "/snap-", -1),
                                 "/", 1)

    def read_incremental(
        self, spark: SparkSession, processed: Set[str],
    ) -> Tuple[Optional[DataFrame], List[str]]:
        """(rows of unprocessed snapshots, their ids) — the resume
        scan. None when everything is processed."""
        todo = self.pending(processed)
        if not todo:
            return None, []
        return self.read_snapshots(spark, todo), todo

    def _read(self, spark: SparkSession,
              snaps: Sequence[Snapshot]) -> DataFrame:
        paths = [self._snap_dir(s.snapshot_id) for s in snaps]
        schema = _union_schema(snaps)
        if schema is not None:
            return spark.read.schema(schema).parquet(*paths)
        # additive schema evolution (Iceberg semantics): a later
        # append may add columns; mergeSchema unions the per-snapshot
        # schemas and older rows surface NULL for the new columns.
        # Without it Spark takes one file's schema and silently drops
        # the rest. Cost is a Spark job reading every file's footer.
        return spark.read.option("mergeSchema", "true").parquet(*paths)


def _union_schema(snaps: Sequence[Snapshot]) -> Optional[StructType]:
    """The additive union of the snapshots' recorded schemas, columns in
    first-seen order; older rows read NULL for columns added later.
    None when a snapshot has no recorded schema or two snapshots give a
    column different types: the read then infers, as mergeSchema
    decides those cases."""
    fields = {}
    for s in snaps:
        if s.schema is None:
            return None
        for f in StructType.fromJson(json.loads(s.schema)).fields:
            if fields.setdefault(f.name, f).dataType != f.dataType:
                return None
    return StructType(list(fields.values()))


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> Table:
        return Table(self.root, name)
