"""journald input: parse the systemd journal export format and apply
the reference's field-name/type conversion table.

Reference mapping (``filebeat/input/journald``):

- field table — ``pkg/journalfield/default.go:24-93``
  (``journaldEventFields``): journal field → beats event field, with
  integer conversion for the fields marked ``integer(...)``;
- integer conversion — ``pkg/journalfield/conv.go:94-115``
  (``convertValue``): ``strconv.ParseInt``, with the
  "``pid,username``" fallback that strips everything after the first
  comma before retrying; on failure the STRING value is kept (the
  reference returns the original value alongside the error);
- unknown fields — custom journal fields land under
  ``journald.custom.*`` (``conv.go`` withCustomFields); here they stay
  in the residual map under their raw name;
- timestamp — ``__REALTIME_TIMESTAMP`` (µs since epoch) becomes the
  event ``@timestamp`` and is dropped from the output
  (``default.go:92``);
- ``include_matches`` — ``config.go:56`` / journalctl semantics:
  several matches on the SAME field OR together, matches on different
  fields AND together.

The reference reads the journal through the systemd API; the public
serialization of that stream is ``journalctl -o export`` (blank-line
separated records of ``KEY=VALUE`` lines), which is what a Spark table
of shipped journal data holds. Both engines are zero-shuffle pure
projections that compose map-side with the processor chain like every
other parser: the default splits records in one Arrow kernel (maps
out, everything downstream JVM); ``engine="jvm"`` is a no-Python
higher-order-function spelling of the same semantics.

Binary-safe export fields (a line WITHOUT ``=``, followed by a length-
prefixed raw blob) cannot survive a utf-8 string column; they fail
loudly rather than silently misparse — ship binary journals as typed
binary columns instead.
"""

from __future__ import annotations

import re
from typing import Iterator, Mapping, Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

__all__ = ["JOURNALD_FIELDS", "JOURNALD_INT_FIELDS",
           "include_matches", "parse_journal_export",
           "split_journal_export"]

#: Java's \S (ASCII class) — python's unicode \S differs on \x1c-\x1f
_NONSPACE_RE = re.compile(r"[^ \t\n\x0B\f\r]")

# journal field → (event field, is_integer); the full conversion table
# of pkg/journalfield/default.go:24-93 (dots flattened to the repo's
# column-name convention). Dropped fields map to None.
JOURNALD_FIELDS: Mapping[str, Optional[str]] = {
    "COREDUMP_UNIT": "journald.coredump.unit",
    "COREDUMP_USER_UNIT": "journald.coredump.user_unit",
    "MESSAGE": "message",
    "MESSAGE_ID": "message_id",
    "OBJECT_AUDIT_LOGINUID": "journald.object.audit.login_uid",
    "OBJECT_AUDIT_SESSION": "journald.object.audit.session",
    "OBJECT_CMDLINE": "journald.object.process.command_line",
    "OBJECT_COMM": "journald.object.process.name",
    "OBJECT_EXE": "journald.object.process.executable",
    "OBJECT_GID": "journald.object.gid",
    "OBJECT_PID": "journald.object.pid",
    "OBJECT_SYSTEMD_OWNER_UID": "journald.object.systemd.owner_uid",
    "OBJECT_SYSTEMD_SESSION": "journald.object.systemd.session",
    "OBJECT_SYSTEMD_UNIT": "journald.object.systemd.unit",
    "OBJECT_SYSTEMD_USER_UNIT": "journald.object.systemd.user_unit",
    "OBJECT_UID": "journald.object.uid",
    "PRIORITY": "log.syslog.priority",
    "SYSLOG_FACILITY": "log.syslog.facility.code",
    "SYSLOG_IDENTIFIER": "log.syslog.appname",
    "SYSLOG_PID": "log.syslog.procid",
    "UNIT": "journald.unit",
    "_AUDIT_LOGINUID": "journald.audit.login_uid",
    "_AUDIT_SESSION": "journald.audit.session",
    "_BOOT_ID": "journald.host.boot_id",
    "_CAP_EFFECTIVE": "journald.process.capabilities",
    "_CMDLINE": "journald.process.command_line",
    "CODE_FILE": "journald.code.file",
    "CODE_FUNC": "journald.code.func",
    "CODE_LINE": "journald.code.line",
    "_COMM": "journald.process.name",
    "_EXE": "journald.process.executable",
    "_GID": "journald.gid",
    "_HOSTNAME": "host.hostname",
    "_KERNEL_DEVICE": "journald.kernel.device",
    "_KERNEL_SUBSYSTEM": "journald.kernel.subsystem",
    "_MACHINE_ID": "host.id",
    "_PID": "journald.pid",
    "_SYSTEMD_CGROUP": "systemd.cgroup",
    "_SYSTEMD_INVOCATION_ID": "systemd.invocation_id",
    "_SYSTEMD_OWNER_UID": "systemd.owner_uid",
    "_SYSTEMD_SESSION": "systemd.session",
    "_SYSTEMD_SLICE": "systemd.slice",
    "_SYSTEMD_UNIT": "systemd.unit",
    "_SYSTEMD_USER_SLICE": "systemd.user_slice",
    "_SYSTEMD_USER_UNIT": "systemd.user_unit",
    "_TRANSPORT": "systemd.transport",
    "_UDEV_DEVLINK": "journald.kernel.device_symlinks",
    "_UDEV_DEVNODE": "journald.kernel.device_node_path",
    "_UDEV_SYSNAME": "journald.kernel.device_name",
    "_UID": "journald.uid",
    "CONTAINER_ID_FULL": "container.id",
    "CONTAINER_NAME": "container.name",
    "CONTAINER_PARTIAL_MESSAGE": "container.partial",
    "IMAGE_NAME": "container.image.name",
    # dropped fields (default.go:86-92)
    "CONTAINER_ID": None,
    "CONTAINER_TAG": None,
    "_SOURCE_MONOTONIC_TIMESTAMP": None,
    "_SOURCE_REALTIME_TIMESTAMP": None,
    "__CURSOR": None,
    "__MONOTONIC_TIMESTAMP": None,
    "__REALTIME_TIMESTAMP": None,  # becomes @timestamp
}

#: journal fields the reference converts with strconv.ParseInt
JOURNALD_INT_FIELDS = frozenset({
    "OBJECT_AUDIT_LOGINUID", "OBJECT_AUDIT_SESSION", "OBJECT_GID",
    "OBJECT_PID", "OBJECT_SYSTEMD_OWNER_UID", "OBJECT_UID",
    "PRIORITY", "SYSLOG_FACILITY", "SYSLOG_PID", "CODE_LINE",
    "_AUDIT_LOGINUID", "_GID", "_PID", "_SYSTEMD_OWNER_UID", "_UID",
})

#: the typed top-level columns parse_journal_export promotes (the
#: headline fields every journald consumer filters on); everything
#: else stays in the ``journald_fields`` map under its mapped name
_PROMOTED = (
    ("MESSAGE", "message", "string"),
    ("PRIORITY", "log_syslog_priority", "bigint"),
    ("SYSLOG_IDENTIFIER", "log_syslog_appname", "string"),
    ("SYSLOG_PID", "log_syslog_procid", "bigint"),
    ("_PID", "journald_pid", "bigint"),
    ("_HOSTNAME", "host_hostname", "string"),
    ("_SYSTEMD_UNIT", "systemd_unit", "string"),
)


def _int_value(v: Column) -> Column:
    """``convertValue`` (conv.go:94-115): ParseInt, retry on the
    segment before the first comma ("pid,username" systemd quirk);
    NULL when both fail (the reference keeps the string + error — a
    typed bigint column can only carry the converted form)."""
    direct = v.try_cast("bigint")
    comma = F.substring_index(v, ",", 1).try_cast("bigint")
    return F.coalesce(direct, comma)


def split_journal_export(blob: "str | None") -> list:
    """Row form of the export split (the Arrow engine's kernel and the
    reference model the property tests check): blank-line separated
    records → list of last-wins field dicts. Semantics byte-identical
    to the JVM engine: whitespace-only chunks are skipped via the
    explicit ASCII class (Java's ``\\S``; python's unicode ``\\s``
    ALSO eats \\x1c-\\x1f, which Java's does not), keyless lines
    raise."""
    if not blob:
        return []
    out = []
    for chunk in blob.split("\n\n"):
        if not _NONSPACE_RE.search(chunk):
            continue
        fields = {}
        for line in chunk.split("\n"):
            if line == "":
                continue
            if "=" not in line:
                raise ValueError(
                    "journald export: keyless line (binary-safe export "
                    "fields are not representable in a string column)")
            k, _, v = line.partition("=")
            fields[k] = v                  # dict insert = last wins
        out.append(fields)
    return out



def parse_journal_export(
    df: DataFrame,
    col: str = "export",
    keep_source: bool = False,
    engine: str = "arrow",
) -> DataFrame:
    """Parse ``journalctl -o export`` blobs: one output row per journal
    record, with ``@timestamp`` (from ``__REALTIME_TIMESTAMP`` µs),
    the promoted typed columns (``message``, ``log_syslog_priority``,
    ``journald_pid``, ``host_hostname``, ``systemd_unit``,
    ``log_syslog_appname``, ``log_syslog_procid``), a ``record_idx``
    (position of the record within its blob, for stable ordering), and
    ``journald_fields: map<string,string>`` holding every remaining
    field under its MAPPED name (unknown fields keep their raw journal
    name; dropped fields are dropped). Repeated fields keep the LAST
    value, matching the systemd API's map view.

    Two engines with byte-identical output (asserted in
    test_journald): ``engine="arrow"`` (default) splits blobs in one
    vectorized Python kernel — ``array<map>`` out, then the shared JVM
    posexplode/mapping — measured ~1.5× faster end-to-end at
    sf0.1 (3.8 s vs 5.6 s for the full catalog query; the remainder
    is Arrow map transfer) because the JVM form's higher-order fold
    cannot whole-stage-codegen; ``engine="jvm"`` keeps the zero-Python
    projection for contexts where Python workers are unwanted (it is
    the same fused-kernel budget question as dissect/grok, answered
    the same way). A keyless line (the export format's binary-field
    marker) fails the query loudly on both engines — see module
    docstring.

    Plan-shape note for the JVM engine (measured, sf0.1):
    higher-order lambdas do not
    whole-stage-codegen, so repeated references to a map-building
    expression re-derive it — and predicate pushdown substitutes
    attributes back into their defining expressions, so a downstream
    ``filter`` (include_matches) can quietly multiply that cost.
    Two structural defenses here: (1) the per-record field map is
    emitted BY the posexplode itself — generator outputs are real
    attributes Catalyst cannot substitute through; (2) last-wins
    repeated-field handling is a single left-to-right ``aggregate``
    fold (each step filters the key out of the accumulator and
    re-inserts), not a self-referential exists-over-slice — a lambda
    that references its own source array re-evaluates it per element
    (was 6-9x slower)."""
    blob = F.col(col)

    def record_map(r: Column) -> Column:
        lines = F.filter(F.split(r, "\n"), lambda l: l != "")
        guard = F.assert_true(
            F.forall(lines, lambda l: F.instr(l, "=") > 0),
            F.lit("journald export: keyless line (binary-safe export "
                  "fields are not representable in a string column)"))
        key = lambda l: F.substring_index(l, "=", 1)      # noqa: E731
        entries = F.transform(
            lines,
            lambda l: F.struct(
                key(l).alias("key"),
                F.substr(l, F.length(key(l)) + F.lit(2)).alias("value")))
        empty = F.map_from_arrays(
            F.array().cast("array<string>"),
            F.array().cast("array<string>"))
        folded = F.aggregate(
            entries, empty,
            lambda acc, e: F.map_concat(
                F.map_filter(acc, lambda k, _v: k != e["key"]),
                F.create_map(e["key"], e["value"])))
        return F.when(guard.isNull(), folded)

    if engine == "arrow":
        @F.pandas_udf("array<map<string,string>>")
        def _split(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for ser in it:
                yield ser.map(split_journal_export)
        recs = _split(blob)
    elif engine == "jvm":
        # drop whitespace-only chunks, not just empty ones: an extra
        # blank line between records yields a "\n" chunk that would
        # otherwise become a phantom all-NULL record row
        recs = F.transform(
            F.filter(F.split(blob, "\n\n"), lambda r: r.rlike(r"\S")),
            record_map)
    else:
        raise ValueError(f"parse_journal_export: unknown engine "
                         f"{engine!r} (arrow, jvm)")
    rec = F.posexplode(recs).alias("record_idx", "__f")
    base = df.select("*", rec) if keep_source else df.select(rec)

    get = lambda k: F.col("__f").getItem(k)               # noqa: E731
    ts = F.timestamp_micros(
        get("__REALTIME_TIMESTAMP").try_cast("bigint"))
    out = base.withColumn("@timestamp", ts)
    for jkey, name, typ in _PROMOTED:
        v = get(jkey)
        out = out.withColumn(
            name, _int_value(v) if typ == "bigint" else v)
    # residual map: rename mapped keys, drop dropped/promoted ones.
    # Both lookups are FOLDABLE map literals (constant-folded to one
    # MapData each) — the per-key CASE-chain spelling of the same
    # logic built a ~50-branch expression per map entry, which blew
    # the codegen budget and ran interpreted (~45x slower, measured)
    promoted = {j for j, _, _ in _PROMOTED}
    renames = [(j, m) for j, m in JOURNALD_FIELDS.items()
               if m is not None and j not in promoted]
    dropped = sorted({j for j, m in JOURNALD_FIELDS.items() if m is None}
                     | promoted)
    rename_map = F.create_map(
        *[F.lit(x) for pair in renames for x in pair])
    dropped_map = F.create_map(
        *[F.lit(x) for j in dropped for x in (j, "1")])
    ents = F.map_entries(F.col("__f"))
    kept = F.filter(
        ents, lambda e: F.element_at(dropped_map, e["key"]).isNull())
    residual = F.map_from_entries(F.transform(
        kept,
        lambda e: F.struct(
            F.coalesce(F.element_at(rename_map, e["key"]),
                       e["key"]).alias("key"),
            e["value"].alias("value"))))
    return out.withColumn("journald_fields", residual).drop("__f")


def include_matches(
    df: DataFrame,
    matches: Sequence[str],
    fields_col: str = "journald_fields",
) -> DataFrame:
    """``include_matches`` filtering (config.go:56, journalctl
    semantics): each match is ``FIELD=value`` — matches on the same
    field OR together, matches on different fields AND together.
    ``FIELD`` is the MAPPED name as it appears in ``fields_col`` (or a
    promoted column name, checked first). Pure codegen filter —
    pushdown-eligible when the promoted column is hit."""
    by_field: dict = {}
    for m in matches:
        if "=" not in m:
            raise ValueError(f"include_matches: bad match {m!r} "
                             "(want FIELD=value)")
        f, v = m.split("=", 1)
        by_field.setdefault(f, []).append(v)
    cond = F.lit(True)
    for f, vals in by_field.items():
        col = (F.col(f) if f in df.columns
               else F.col(fields_col).getItem(f))
        alt = F.lit(False)
        for v in vals:
            alt = alt | (col.cast("string") == v)
        cond = cond & alt
    return df.filter(cond)
