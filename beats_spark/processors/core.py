"""Field-shape and scalar processors (``libbeat/processors/actions/``).

Flat-column convention: a beats nested path ``a.b`` materializes as the
column ``a_b`` (declared schemas beat dynamic maps for Catalyst pruning;
SURVEY.md §1.5). ``target``-style options join with ``_``.
"""

from __future__ import annotations

from typing import Any, Mapping

from pyspark.sql import Column, DataFrame, functions as F

from . import ProcResult, register

MANDATORY = ("@timestamp", "type")  # include_fields.go:70 keeps these


def _tname(target: str, key: str) -> str:
    return f"{target}_{key}" if target else key


@register("add_fields")
def add_fields(cfg: Mapping[str, Any]):
    """Literal fields under ``target`` (default ``fields``), deep-merge →
    flat prefixed columns (``actions/addfields/add_fields.go:60-64``)."""
    target = cfg.get("target", "fields")
    fields = cfg.get("fields", {})

    def make(df: DataFrame) -> ProcResult:
        assigns = {}
        for k, v in fields.items():
            name = _tname(target, k)
            assigns[name] = F.lit(v)
        return ProcResult(assigns=assigns)
    return make


@register("add_labels")
def add_labels(cfg: Mapping[str, Any]):
    """Flattened literals under ``labels`` (``add_labels.go``)."""
    return add_fields({"target": "labels", "fields": cfg.get("labels", {})})


@register("add_tags")
def add_tags(cfg: Mapping[str, Any]):
    """Append literals to the string-array ``tags`` (``add_tags.go:77``,
    no dedup)."""
    tags = [str(t) for t in cfg.get("tags", [])]
    target = cfg.get("target", "tags")

    def make(df: DataFrame) -> ProcResult:
        lit_arr = F.array(*[F.lit(t) for t in tags])
        if target in df.columns:
            col = F.concat(F.coalesce(F.col(target), F.array().cast("array<string>")), lit_arr)
        else:
            col = lit_arr
        return ProcResult(assigns={target: col})
    return make


@register("include_fields")
def include_fields(cfg: Mapping[str, Any]):
    """Keep only listed columns plus mandatory ones
    (``include_fields.go:70``). Select-style → not when-able."""
    fields = list(cfg.get("fields", []))

    def make(df: DataFrame) -> ProcResult:
        keep = [c for c in df.columns
                if c in fields or c in MANDATORY
                or any(c.startswith(f + "_") for f in fields)]

        def reshape(d: DataFrame) -> DataFrame:
            return d.select(*keep)
        return ProcResult(reshape=reshape)
    return make


@register("drop_fields")
def drop_fields(cfg: Mapping[str, Any]):
    """Delete listed columns; prefix subtrees too (``drop_fields.go:93``,
    ``ignore_missing`` is implicit — dropping a missing column is a
    no-op here)."""
    fields = list(cfg.get("fields", []))

    def make(df: DataFrame) -> ProcResult:
        doomed = [c for c in df.columns
                  if c in fields or any(c.startswith(f + "_") for f in fields)]
        return ProcResult(drops=doomed)
    return make


@register("rename")
def rename(cfg: Mapping[str, Any]):
    """Move ``from``→``to`` (``rename.go:75``). With ``overwrite: false``
    (default) an existing target makes the rename a no-op for that pair
    (the reference fails the event; in batch we keep the row intact)."""
    pairs = cfg.get("fields", [])
    overwrite = bool(cfg.get("overwrite", False))

    def make(df: DataFrame) -> ProcResult:
        assigns, drops = {}, []
        for p in pairs:
            src, dst = p["from"], p["to"]
            if src not in df.columns:
                continue  # ignore_missing
            if dst in df.columns and not overwrite:
                continue
            assigns[dst] = F.col(src)
            drops.append(src)
        return ProcResult(assigns=assigns, drops=drops)
    return make


@register("copy_fields")
def copy_fields(cfg: Mapping[str, Any]):
    """Copy ``from``→``to`` keeping the original (``copy_fields.go:71``)."""
    pairs = cfg.get("fields", [])

    def make(df: DataFrame) -> ProcResult:
        assigns = {}
        for p in pairs:
            if p["from"] in df.columns:
                assigns[p["to"]] = F.col(p["from"])
        return ProcResult(assigns=assigns)
    return make


@register("truncate_fields")
def truncate_fields(cfg: Mapping[str, Any]):
    """Cut strings to ``max_characters`` (or ``max_bytes`` as a byte
    budget), tag ``truncated`` in log_flags (``truncate_fields.go:84``)."""
    fields = list(cfg.get("fields", []))
    max_chars = cfg.get("max_characters")
    max_bytes = cfg.get("max_bytes")

    def make(df: DataFrame) -> ProcResult:
        assigns = {}
        changed = None
        for f in fields:
            if f not in df.columns:
                continue
            col = F.col(f)
            if max_chars is not None:
                over = F.length(col) > int(max_chars)
                cut = F.substring(col, 1, int(max_chars))
            else:
                over = F.octet_length(col) > int(max_bytes)
                # byte-budget cut: decode the first max_bytes of utf-8
                cut = F.decode(
                    F.substring(F.encode(col, "utf-8"), 1, int(max_bytes)),
                    "utf-8")
            assigns[f] = F.when(over, cut).otherwise(col)
            changed = over if changed is None else (changed | over)
        if changed is not None:
            prev = (F.coalesce(F.col("log_flags"), F.array().cast("array<string>"))
                    if "log_flags" in df.columns
                    else F.array().cast("array<string>"))
            assigns["log_flags"] = F.when(
                changed, F.array_union(prev, F.array(F.lit("truncated")))
            ).otherwise(prev)
        return ProcResult(assigns=assigns)
    return make


def _case_builder(fn):
    def builder(cfg: Mapping[str, Any]):
        fields = list(cfg.get("fields", []))
        include_values = bool(cfg.get("include_values", True))

        def make(df: DataFrame) -> ProcResult:
            assigns = {}
            if include_values:
                for f in fields:
                    if f in df.columns:
                        assigns[f] = fn(F.col(f))
            return ProcResult(assigns=assigns)
        return make
    return builder


# lowercase/uppercase of field *values* (the name-casing half of
# alterFieldProcessor.go:91 is meaningless with declared schemas —
# callers control their column names)
register("lowercase")(_case_builder(F.lower))
register("uppercase")(_case_builder(F.upper))


@register("append")
def append(cfg: Mapping[str, Any]):
    """Append values/fields to an array field, optional dedup
    (``actions/append.go:75``)."""
    target = cfg["target_field"]
    values = cfg.get("values", [])
    src_fields = cfg.get("fields", [])
    allow_dup = bool(cfg.get("allow_duplicate", True))

    def make(df: DataFrame) -> ProcResult:
        parts = []
        if target in df.columns:
            base = F.col(target)
            parts.append(F.when(base.isNull(), F.array().cast("array<string>"))
                         .otherwise(base.cast("array<string>")))
        for f in src_fields:
            if f in df.columns:
                parts.append(F.array(F.col(f).cast("string")))
        if values:
            parts.append(F.array(*[F.lit(str(v)) for v in values]))
        if not parts:
            return ProcResult()
        col = F.concat(*parts) if len(parts) > 1 else parts[0]
        if not allow_dup:
            col = F.array_distinct(col)
        return ProcResult(assigns={target: col})
    return make


@register("drop_event")
def drop_event(cfg: Mapping[str, Any]):
    """Remove the row (``drop_event.go:41-44``); meaningful with
    ``when:`` — keep = false rows are filtered (the router counts them
    via metrics, §2.6)."""
    def make(df: DataFrame) -> ProcResult:
        return ProcResult(keep=F.lit(False))
    return make


@register("convert")
def convert(cfg: Mapping[str, Any]):
    """Typed casts with copy/rename modes (``convert/convert.go:74``,
    config ``convert/config.go:34-46``). Failed casts yield null; with
    ``fail_on_error`` the reference rolls back — here nulls + tag.
    ``ip`` VALIDATES like the reference's ``net.ParseIP`` (convert.go
    "value is not a valid IP address"): non-IP input nulls out instead
    of passing through, by the rules of the address parse every
    network test runs (``conditions._is_ip``); JVM-side, no UDF."""
    fields = cfg.get("fields", [])
    mode = cfg.get("mode", "copy")
    _types = {"integer": "int", "long": "bigint", "float": "float",
              "double": "double", "string": "string", "boolean": "boolean"}

    def make(df: DataFrame) -> ProcResult:
        from ..conditions import _is_ip
        assigns, drops = {}, []
        for spec in fields:
            src = spec["from"]
            dst = spec.get("to", src)
            typ = spec.get("type", "string")
            if src not in df.columns:
                continue
            if typ == "ip":
                col = F.col(src).cast("string")
                assigns[dst] = F.when(_is_ip(col), col)
            else:
                assigns[dst] = F.col(src).try_cast(_types[typ])
            if mode == "rename" and dst != src:
                drops.append(src)
        return ProcResult(assigns=assigns, drops=drops)
    return make


@register("replace")
def replace(cfg: Mapping[str, Any]):
    """Regex find/replace list (``actions/replace.go:84``)."""
    fields = cfg.get("fields", [])

    def make(df: DataFrame) -> ProcResult:
        assigns = {}
        for spec in fields:
            f = spec["field"]
            if f in df.columns:
                assigns[f] = F.regexp_replace(
                    F.col(f), spec["pattern"], spec["replacement"])
        return ProcResult(assigns=assigns)
    return make


@register("add_formatted_index")
def add_formatted_index(cfg: Mapping[str, Any]):
    """Render a format string into the routing override column
    ``meta_raw_index`` (``add_formatted_index.go:61-77``; consumed by
    routing.route(meta_override=...))."""
    from ..fmtstr import compile_fmtstr
    template = cfg["index"]
    ts_field = cfg.get("timestamp_field", "@timestamp")

    def make(df: DataFrame) -> ProcResult:
        ts = ts_field if ts_field in df.columns else df.columns[0]
        return ProcResult(assigns={
            "meta_raw_index": compile_fmtstr(template, timestamp_field=ts)})
    return make


@register("fingerprint")
def fingerprint(cfg: Mapping[str, Any]):
    """Stable hash of ordered fields → ``fingerprint``
    (``fingerprint/fingerprint.go:72``). The hashed bytes are
    byte-identical to the reference's ``writeFields``
    (fingerprint.go:93-114): ``|key|value`` per field in sorted key
    order plus a trailing ``|`` — the md5/sha1/sha256/384/512 digests
    equal the Go processor's exactly (vectors ported from
    fingerprint_test.go). ``xxhash`` uses Spark's JVM xxhash64, which
    seeds with 42 where Go's library seeds 0, so only that method's
    values diverge. A missing (null) source field nulls the whole
    fingerprint, mirroring the reference's error-and-skip."""
    fields = sorted(cfg.get("fields", []))
    method = cfg.get("method", "sha256")
    target = cfg.get("target_field", "fingerprint")

    def make(df: DataFrame) -> ProcResult:
        pieces = []
        for f in fields:
            pieces.append(F.lit(f"|{f}|"))
            pieces.append(F.col(f).cast("string"))
        pieces.append(F.lit("|"))
        cat = F.concat(*pieces)
        if method == "md5":
            col = F.md5(cat)
        elif method == "sha1":
            col = F.sha1(cat)
        elif method in ("sha256", "sha384", "sha512"):
            col = F.sha2(cat, int(method[3:]))
        elif method == "xxhash":
            col = F.lower(F.hex(F.xxhash64(cat)))
        else:
            raise ValueError(f"unknown fingerprint method {method!r}")
        return ProcResult(assigns={target: col})
    return make


@register("add_id")
def add_id(cfg: Mapping[str, Any]):
    """ES-style random id → ``meta__id`` (``add_id/add_id.go:64``)."""
    target = cfg.get("target_field", "meta__id")

    def make(df: DataFrame) -> ProcResult:
        return ProcResult(assigns={target: F.uuid()})
    return make


# Go reference-time tokens → Spark datetime pattern pieces, ordered
# longest-first so e.g. "2006" wins over "06"/"06"… and "15" over "1".
_GO_TOKENS = [
    ("2006", "yyyy"), ("January", "MMMM"), ("Jan", "MMM"),
    ("Monday", "EEEE"), ("Mon", "EEE"),
    (".000000000", ".SSSSSSSSS"), (".000000", ".SSSSSS"),
    (".000", ".SSS"),
    (".999999999", "[.SSSSSSSSS]"), (".999999", "[.SSSSSS]"),
    (".999", "[.SSS]"),
    ("Z07:00", "XXX"), ("Z0700", "XX"), ("Z07", "X"),
    ("-07:00", "xxx"), ("-0700", "xx"), ("-07", "x"),
    ("MST", "zzz"),
    ("15", "HH"), ("03", "hh"), ("04", "mm"), ("05", "ss"),
    ("01", "MM"), ("02", "dd"), ("_2", "d"), ("06", "yy"),
    ("PM", "a"), ("pm", "a"),
    ("3", "h"), ("4", "m"), ("5", "s"), ("1", "M"), ("2", "d"),
]


def go_layout_to_spark(layout: str) -> str:
    """Go reference-time layout ("2006-01-02 15:04:05") → Spark
    datetime pattern ("yyyy-MM-dd HH:mm:ss"). Literal letters are
    single-quoted (the RFC3339 'T'); Go's zero-trimming ``.999``
    fractions become Spark optional sections. Space-padded ``_2``
    maps to ``d`` (Spark parses 1–2 digits either way)."""
    out = []
    i = 0
    n = len(layout)
    while i < n:
        for tok, repl in _GO_TOKENS:
            if layout.startswith(tok, i):
                out.append(repl)
                i += len(tok)
                break
        else:
            ch = layout[i]
            if ch == "'":
                out.append("''")
            elif ch.isalpha():
                out.append(f"'{ch}'")
            else:
                out.append(ch)
            i += 1
    return "".join(out)


def _looks_go_layout(layout: str) -> bool:
    return ("2006" in layout or "15:04" in layout or "_2" in layout
            or ".999" in layout or "Z07" in layout)


@register("timestamp")
def timestamp(cfg: Mapping[str, Any]):
    """Parse ``field`` with a layout list into UTC ``target_field``
    (``timestamp/timestamp.go:87-160``): first matching layout wins →
    ``coalesce(to_timestamp(fmt1), to_timestamp(fmt2), …)``; IANA
    ``timezone`` applied via to_utc_timestamp.

    Layouts accept BOTH spellings a reference user might carry over:
    Go reference-time layouts (``"2006-01-02 15:04:05"``, detected and
    converted via :func:`go_layout_to_spark`; force with
    ``layout_style: go|spark``) and the special ``UNIX`` / ``UNIX_MS``
    epoch layouts (``timestamp/config.go``)."""
    src = cfg["field"]
    layouts = cfg.get("layouts", [])
    target = cfg.get("target_field", "@timestamp")
    tz = cfg.get("timezone", "UTC")
    style = cfg.get("layout_style", "auto")  # auto | go | spark

    # Spark refuses day-of-week letters in PARSE patterns (E is
    # format-only since 3.0); the day name is redundant for parsing, so
    # strip it from both the pattern and the value (ANSIC/RFC1123 put
    # it first)
    _day_re = (r"^(?:Mon|Tue|Wed|Thu|Fri|Sat|Sun)"
               r"(?:day|sday|nesday|rsday|urday)?,? ?")

    def make(df: DataFrame) -> ProcResult:
        import re as _re
        tries = []
        for lay in layouts:
            if lay == "UNIX":
                tries.append(F.timestamp_seconds(
                    F.col(src).try_cast("double")))
                continue
            if lay == "UNIX_MS":
                tries.append(F.timestamp_millis(
                    F.col(src).try_cast("bigint")))
                continue
            col = F.col(src)
            if style == "go" or (style == "auto" and _looks_go_layout(lay)):
                if "_2" in lay:
                    # Go's _2 is SPACE-padded ("Jan  2"); collapse runs
                    # of spaces so the single-space Spark pattern fits
                    col = F.regexp_replace(col, "  +", " ")
                lay = go_layout_to_spark(lay)
            if "EEE" in lay:
                lay = _re.sub(r"EEEE?,? ?", "", lay)
                col = F.regexp_replace(col, _day_re, "")
            tries.append(F.try_to_timestamp(col, F.lit(lay)))
        tries.append(F.try_to_timestamp(F.col(src)))  # default parser last
        parsed = F.coalesce(*tries)
        if tz and tz != "UTC":
            parsed = F.to_utc_timestamp(parsed, tz)
        return ProcResult(assigns={target: parsed})
    return make


_RL_WINDOW_S = {"s": 1, "m": 60, "h": 3600}


def _rl_parse_limit(limit_spec: str):
    parts = str(limit_spec).split("/")
    n = int(parts[0])
    unit = parts[1] if len(parts) > 1 else "s"
    if unit not in _RL_WINDOW_S:
        raise ValueError(
            f"rate_limit: unknown unit {unit!r} in limit "
            f"{limit_spec!r}; supported units: s, m, h")
    return n, unit


def token_bucket_filter(
    df: DataFrame,
    limit: str = "100/s",
    fields: "list | None" = None,
    ts_field: str = "@timestamp",
    order_by: "list | None" = None,
    burst_multiplier: float = 1.0,
    shards: int = 1,
) -> DataFrame:
    """Continuous-refill token bucket over event time, matching the
    reference's algorithm (``ratelimit/token_bucket.go:37-65``): one
    bucket per key starts full at ``depth = limit × burst_multiplier``;
    each event first accrues ``elapsed × rate`` tokens since the
    previous event of that key, then withdraws 1 if at least 1 token is
    available (no cap on accrual — the reference only trims full
    buckets during GC, which a batch scan never needs).

    Event-time order (``ts_field``, then ``order_by``) stands in for
    the reference's arrival order; tokens are tracked as integer
    micro-tokens scaled by the rate window (``tokens × 1e6 ×
    window_s``) so the arithmetic is exact and engine-independent —
    the DuckDB recursive-CTE oracle reproduces it bit-for-bit.

    Scale shape: PURE Catalyst — the sequential scan has a closed
    form, so the whole operator is one shuffle on the key plus
    stacked WindowExec passes, zero Python, no Arrow round-trip.
    Because accrual is UNCAPPED, the only nonlinearity is the
    conditional withdraw: with ``A_i = depth + rate × elapsed_µs(i)``
    the fill before event i is ``A_i − scale·k_{i−1}`` (k = kept so
    far), so ``keep_i ⇔ k_{i−1}+1 ≤ c_i := ⌊A_i/scale⌋``; c is
    nondecreasing in event time, which collapses the recurrence to
    ``k_i = min(k_{i−1}+1, c_i) = min(rn, rn−1 + min_{j≤i}(c_j−j))``
    — a prefix max (the clock), an integer division, a running min,
    and a lag. (The accrual ``rate × elapsed_µs`` would overflow —
    and error loudly under ANSI — only past several decades of span
    at extreme limits.)

    .. warning:: With no ``fields`` (a GLOBAL limit) and ``shards=1``
       the whole dataset flows through ONE window partition —
       semantically exact (the reference's global bucket is one mutex
       too) but a single-task cliff at cluster scale. For a global
       limit over big data pass ``shards=k``: rows hash-salt into
       ``k`` deterministic shards, each running an exact bucket over
       ``rate/k`` (the integer remainder spread over the first
       shards). The total admitted is then a conservative
       approximation of the global bucket — a shard never over-admits
       its budget, so the sum never exceeds the exact global
       admission for steady traffic, but an uneven hash split wastes
       idle shards' tokens. Keep ``shards`` ≤ the per-window limit or
       zero-rate shards admit nothing."""
    from pyspark.sql import Window

    n, unit = _rl_parse_limit(limit)
    window_s = _RL_WINDOW_S[unit]
    scale = 1_000_000 * window_s  # one token, in scaled units
    keys = list(fields or [])
    shards = int(shards)
    if shards > 1 and keys:
        raise ValueError(
            "token_bucket_filter: shards applies only to the global "
            "(fields-less) bucket; keyed buckets already parallelize "
            "across keys")

    def depth_for(rate: int) -> int:
        return int(round(rate * float(burst_multiplier) * scale))

    out = df
    part_cols = list(keys)
    if not keys and shards > 1:
        # deterministic salt over the full row (Murmur3, fixed seed);
        # per-shard rate/depth are literals picked by shard id so the
        # integer arithmetic matches the unsharded bucket exactly
        base, rem = divmod(n, shards)
        out = out.withColumn(
            "__tb_shard", F.pmod(F.hash(*df.columns), F.lit(shards)))
        rate_col = (F.when(F.col("__tb_shard") < rem, F.lit(base + 1))
                    .otherwise(F.lit(base))).cast("long")
        depth_col = (F.when(F.col("__tb_shard") < rem,
                            F.lit(depth_for(base + 1)))
                     .otherwise(F.lit(depth_for(base)))).cast("long")
        part_cols = ["__tb_shard"]
    else:
        rate_col = F.lit(n).cast("long")
        depth_col = F.lit(depth_for(n)).cast("long")

    # event-time order; null timestamps sort LAST (they accrue nothing
    # and never move the clock, but still withdraw at the current fill)
    order_cols = ([F.col(ts_field).asc_nulls_last()]
                  + [F.col(c) for c in (order_by or [])])
    w = (Window.partitionBy(*part_cols).orderBy(*order_cols)
         if part_cols else Window.orderBy(*order_cols))
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)

    # µs since epoch. TIMESTAMP_NTZ has no instant, so unix_micros
    # rejects it; timestampdiff from the NTZ epoch stays wall-clock
    # (no session-tz reinterpretation — matches the old pandas
    # datetime64 arithmetic bit-for-bit, DST or not).
    from pyspark.sql.types import TimestampNTZType
    try:
        is_ntz = isinstance(df.schema[ts_field].dataType, TimestampNTZType)
    except KeyError:
        is_ntz = False
    if is_ntz:
        us = F.timestamp_diff(
            "MICROSECOND",
            F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
            F.col(ts_field))
    else:
        us = F.unix_micros(F.col(ts_field))
    clock = F.max(us).over(wrun)                      # ffilled clock
    first = F.first(us, ignorenulls=True).over(wrun)  # non-null ⇒ row 1
    elapsed = F.coalesce(clock - first, F.lit(0).cast("long"))
    out = out.withColumns({
        "__tb_rn": F.row_number().over(w).cast("long"),
        "__tb_a": depth_col + rate_col * elapsed,
    })
    # exact integer division (a / scale in doubles would round)
    out = out.withColumn(
        "__tb_c", F.expr(f"__tb_a DIV CAST({scale} AS BIGINT)"))
    out = out.withColumn(
        "__tb_m",
        F.min(F.col("__tb_c") - F.col("__tb_rn") + 1).over(wrun))
    out = out.withColumn(
        "__tb_k",
        F.least(F.col("__tb_rn"),
                F.col("__tb_rn") - 1 + F.col("__tb_m")))
    out = out.withColumn(
        "__tb_keep",
        F.col("__tb_k") > F.coalesce(F.lag("__tb_k").over(w),
                                     F.lit(0).cast("long")))
    return out.filter(F.col("__tb_keep")).select(*df.columns)


@register("rate_limit")
def rate_limit(cfg: Mapping[str, Any]):
    """Rate limiting (``ratelimit/rate_limit.go:103``). Two algorithms:

    - ``token_bucket`` — the reference's continuous-refill bucket,
      exact semantics via :func:`token_bucket_filter` (bursts that
      straddle a window boundary are judged by accrued tokens, like
      ``token_bucket.go:37-65``);
    - ``window`` (default) — ≤N rows per (key × event-time window) via
      ``row_number``, a pure-Catalyst approximation that differs from
      the bucket exactly at window-straddling bursts; it stays the
      default because it is SQL-reproducible without recursion and
      shuffle-only (no Python stage)."""
    from pyspark.sql import Window
    limit_spec = str(cfg.get("limit", "100/s"))
    n, unit_key = _rl_parse_limit(limit_spec)
    unit = {"s": "1 second", "m": "1 minute", "h": "1 hour"}[unit_key]
    key_fields = list(cfg.get("fields", []))
    ts_field = cfg.get("timestamp_field", "@timestamp")
    # extra order columns for a deterministic winner under ts ties
    order_by = list(cfg.get("order_by", []))
    algorithm = cfg.get("algorithm", "window")
    burst = float(cfg.get("burst_multiplier", 1.0))
    shards = int(cfg.get("shards", 1))

    def make(df: DataFrame) -> ProcResult:
        if algorithm == "token_bucket":
            def reshape_tb(d: DataFrame) -> DataFrame:
                return token_bucket_filter(
                    d, limit=limit_spec, fields=key_fields,
                    ts_field=ts_field, order_by=order_by,
                    burst_multiplier=burst, shards=shards)
            return ProcResult(reshape=reshape_tb)
        if algorithm != "window":
            raise ValueError(
                f"rate_limit: unknown algorithm {algorithm!r}; "
                "supported: token_bucket, window")

        share_key = bool(cfg.get("share_key_partitioning", False))

        def reshape(d: DataFrame) -> DataFrame:
            if key_fields:
                kcols = [F.col(f) for f in key_fields]
                if share_key:
                    # Opt-in single-exchange spelling for pipelines
                    # that aggregate by key right after: partition
                    # BOTH windows on the key only —
                    # HashPartitioning(key) satisfies the (key,
                    # minute) window's ClusteredDistribution AND a
                    # downstream groupBy(key), so operator + rollup is
                    # ONE shuffle. rank_in_minute falls out
                    # arithmetically (rows of a minute are contiguous
                    # under ts): rn − min(rn over key×minute) + 1.
                    # NOT the default: a hot key's ENTIRE history
                    # sorts in one task — unbounded partitions.
                    wk = Window.partitionBy(*kcols).orderBy(
                        F.col(ts_field), *[F.col(c) for c in order_by])
                    wm = Window.partitionBy(
                        *kcols, F.window(F.col(ts_field), unit))
                    d = d.withColumn("__rl_rn", F.row_number().over(wk))
                    d = d.withColumn(
                        "__rl",
                        F.col("__rl_rn") - F.min("__rl_rn").over(wm) + 1)
                    return (d.filter(F.col("__rl") <= n)
                             .drop("__rl", "__rl_rn"))
                # Default: partition on (key, minute) — still ONE
                # exchange for the operator itself, and every sort
                # partition is bounded by one key's one-minute volume,
                # so a hot key with a long history can never pin a
                # single task (the scale-safety the window form exists
                # to provide over the sequential token bucket).
                w = Window.partitionBy(
                    *kcols, F.window(F.col(ts_field), unit)).orderBy(
                    F.col(ts_field), *[F.col(c) for c in order_by])
                return (d.withColumn("__rl", F.row_number().over(w))
                         .filter(F.col("__rl") <= n).drop("__rl"))
            # global (key-less) limit: partitioning by the minute
            # window keeps the scan parallel across minutes — better
            # than one global sort partition
            w = Window.partitionBy(
                F.window(F.col(ts_field), unit)).orderBy(
                F.col(ts_field), *[F.col(c) for c in order_by])
            return (d.withColumn("__rl", F.row_number().over(w))
                     .filter(F.col("__rl") <= n).drop("__rl"))
        return ProcResult(reshape=reshape)
    return make
