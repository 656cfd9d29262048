"""The parser chain (``libbeat/reader/parser/parser.go:86-160``):
config-ordered composition of the message parsers over a line/message
column — multiline, ndjson, container (docker/CRI), syslog,
include_message — exactly the validation-and-compose step the
reference runs when building a filestream input.

Each parser maps a DataFrame with a message column to a DataFrame
(possibly fewer/more rows for multiline); the chain compiler folds
them in config order, mirroring ``parser.go``'s single pass.
"""

from __future__ import annotations

from typing import Any, Callable, List, Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from .multiline import _join_runs, multiline_over_rows
from .syslog import parse_syslog, parse_syslog_rfc3164, parse_syslog_rfc5424
from .readers import include_lines

__all__ = ["parse_ndjson", "parse_container", "compile_parsers"]


def parse_ndjson(
    df: DataFrame,
    field: str = "message",
    target: str = "",
    schema: str = "",
    add_error_key: bool = True,
    message_key: str = "",
) -> DataFrame:
    """ndjson parser (``libbeat/reader/readjson/json.go:47-110``): JSON
    decode each message. With ``schema`` the keys become typed columns
    (``from_json``); without, a ``map<string,string>`` lands under
    ``target``. ``message_key`` copies that key back into the message
    column (the reference's message extraction); parse failure tags
    ``log_flags`` when ``add_error_key``."""
    src = F.col(field)
    if schema:
        from pyspark.sql import types as T
        parsed = F.from_json(src, schema)
        st = T._parse_datatype_string(schema)
        assigns = {}
        for n in st.fieldNames():
            out_name = f"{target}_{n}" if target else n
            assigns[out_name] = parsed[n]
    else:
        m = F.from_json(src, "map<string,string>")
        assigns = {target or f"{field}_json": m}
        parsed = m
    # from_json is PERMISSIVE (all-null struct on bad input), so detect
    # real parse failure explicitly
    failed = src.isNotNull() & F.try_parse_json(src).isNull()
    if message_key:
        if schema:
            assigns[field] = F.coalesce(parsed[message_key], src)
        else:
            assigns[field] = F.coalesce(
                F.element_at(parsed, message_key), src)
    if add_error_key:
        prev = (F.coalesce(F.col("log_flags"),
                           F.array().cast("array<string>"))
                if "log_flags" in df.columns
                else F.array().cast("array<string>"))
        assigns["log_flags"] = F.when(
            failed, F.array_union(prev,
                                  F.array(F.lit("json_parsing_error")))
        ).otherwise(prev)
    return df.withColumns(assigns)


_CRI_RE = r"^([^ ]+) (stdout|stderr) ([PF]) (.*)$"


def parse_container(
    df: DataFrame,
    field: str = "message",
    stream: str = "all",
    fmt: str = "auto",
    combine_partials: bool = True,
    partition_cols: Sequence[str] = ("path",),
    order_col: str = "line_no",
    drop_unparsed: bool = True,
    keep_partial_flag: bool = False,
) -> DataFrame:
    """container parser (``readjson/docker_json.go``; selection
    ``reader/parser/parser.go:105-117``): docker json-file lines
    (``{"log":…,"stream":…,"time":…}``) or CRI
    (``TS stream tag msg``); keeps the selected stream, extracts the
    log text into the message column and the timestamp into
    ``container_time``.

    ``combine_partials`` (the reference's default-true ``partial``
    option, docker_json.go Next loop): a run of partial lines — CRI
    tag ``P``, or a docker ``log`` without a trailing newline — joins
    with the following lines through the first final one; the joined
    event keeps the FIRST part's timestamp/stream (the reference
    appends into the first message's struct). Requires the ordering
    columns (``partition_cols`` + ``order_col``) to be present; when
    they are missing the rows pass through unjoined.

    ``drop_unparsed`` mirrors the reference's Next loop, which logs a
    parse error and ``continue``s: lines that are neither valid docker
    JSON nor CRI-shaped are dropped (set False to keep them with null
    parse columns instead).

    ``keep_partial_flag`` (with ``combine_partials=False``) exposes
    the per-line partial marker as ``container_partial`` — the input
    contract of the streaming joiner
    (:func:`beats_spark.streaming.pipeline.stateful_container_partial`),
    which carries partial runs across micro-batches."""
    src = F.col(field)
    is_json = src.startswith("{")
    # PERMISSIVE from_json yields a struct of nulls for malformed
    # input (never a null struct), so route corrupt records into a
    # marker field to detect unmarshal failures like the reference
    docker = F.from_json(
        src, "log string, stream string, time string, __corrupt string",
        {"columnNameOfCorruptRecord": "__corrupt"})
    cri_ts = F.regexp_extract(src, _CRI_RE, 1)
    cri_stream = F.regexp_extract(src, _CRI_RE, 2)
    cri_tag = F.regexp_extract(src, _CRI_RE, 3)
    cri_msg = F.regexp_extract(src, _CRI_RE, 4)

    if fmt == "docker":
        use_json = F.lit(True)
    elif fmt == "cri":
        use_json = F.lit(False)
    else:
        use_json = is_json

    stream_col = F.when(use_json, docker["stream"]).otherwise(cri_stream)
    msg = F.when(use_json,
                 F.regexp_replace(docker["log"], r"\n$", "")) \
           .otherwise(cri_msg)
    ts = F.when(use_json, docker["time"]).otherwise(cri_ts)
    partial = F.coalesce(
        F.when(use_json, ~docker["log"].endswith("\n"))
         .otherwise(cri_tag == "P"),
        F.lit(False))
    out = df.withColumns({
        field: msg,
        "container_stream": stream_col,
        "container_time": F.try_to_timestamp(
            F.regexp_replace(ts, r"Z$", "")),
        "__partial": partial,
        # computed against the PRE-update columns (withColumns
        # evaluates all assignments on the input frame), so this sees
        # the raw line, not the extracted message
        "__ok": F.coalesce(
            F.when(use_json, docker["__corrupt"].isNull())
             .otherwise(src.rlike(_CRI_RE)),
            F.lit(False)),
    })
    if drop_unparsed:
        out = out.filter(F.col("__ok"))
    out = out.drop("__ok")

    can_join = (combine_partials
                and all(c in df.columns for c in partition_cols)
                and order_col in df.columns)
    if keep_partial_flag and can_join:
        # fail fast: joining consumes the flag, so the promised
        # container_partial column would silently never appear and the
        # streaming joiner would KeyError inside the executor
        raise ValueError(
            "keep_partial_flag requires combine_partials=False "
            "(the partial join consumes the flag)")
    if can_join:
        # a partial line is a multiline continuation that ends at the
        # next final line; every other column keeps the first part's
        # value, like the reference appending into the first message's
        # struct
        carry = [c for c in out.columns
                 if c not in (*partition_cols, order_col, field, "__partial")]
        out = (_join_runs(out, field, partition_cols, order_col,
                          F.lit(True), ~F.col("__partial"), separator="",
                          carry=carry)
               # restore the caller's column order
               .select(*df.columns, "container_stream", "container_time"))
    elif keep_partial_flag:
        out = out.withColumnRenamed("__partial", "container_partial")
    else:
        out = out.drop("__partial")
    if stream != "all":
        out = out.filter(F.col("container_stream") == stream)
    return out


def compile_parsers(
    configs: Sequence[Mapping[str, Any]],
    field: str = "message",
    partition_cols: Sequence[str] = ("path",),
    order_col: str = "line_no",
) -> Callable[[DataFrame], DataFrame]:
    """Config-ordered parser chain → one DataFrame transform
    (``parser.go:86-160``). Supported keys: ``multiline``, ``ndjson``,
    ``container``, ``syslog``, ``include_message``."""
    steps: List[Callable[[DataFrame], DataFrame]] = []
    for cfg in configs:
        if not isinstance(cfg, Mapping) or len(cfg) != 1:
            raise ValueError(f"one parser per entry: {cfg!r}")
        (name, body), = cfg.items()
        body = dict(body or {})
        if name == "multiline":
            steps.append(lambda d, b=body: multiline_over_rows(
                d, line_col=field,
                partition_cols=list(partition_cols),
                order_col=order_col,
                pattern=b.get("pattern", r"^\s"),
                negate=bool(b.get("negate", False)),
                match=b.get("match", "after"),
                flush_pattern=b.get("flush_pattern"),
                max_lines=int(b.get("max_lines", 500)),
                message_col=field))
        elif name == "ndjson":
            steps.append(lambda d, b=body: parse_ndjson(
                d, field=field, target=b.get("target", ""),
                schema=b.get("schema", ""),
                add_error_key=bool(b.get("add_error_key", True)),
                message_key=b.get("message_key", "")))
        elif name == "container":
            steps.append(lambda d, b=body: parse_container(
                d, field=field, stream=b.get("stream", "all"),
                fmt=b.get("format", "auto"),
                combine_partials=bool(b.get("partial", True)),
                partition_cols=list(partition_cols),
                order_col=order_col))
        elif name == "syslog":
            fmt = body.get("format", "auto")
            if fmt == "rfc3164":
                steps.append(lambda d, b=body: parse_syslog_rfc3164(
                    d, field=field, year_from=b.get("year_from")))
            elif fmt == "rfc5424":
                steps.append(lambda d: parse_syslog_rfc5424(d, field=field))
            else:
                steps.append(lambda d, b=body: parse_syslog(
                    d, field=field, year_from=b.get("year_from")))
        elif name == "include_message":
            pats = list(body.get("patterns", []))
            steps.append(lambda d, p=pats: include_lines(d, field, p))
        else:
            raise ValueError(f"unknown parser {name!r}")

    def chained(df: DataFrame) -> DataFrame:
        for s in steps:
            df = s(df)
        return df

    return chained
