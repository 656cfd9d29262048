"""Decode / parse processors (SURVEY.md §2.4).

All JVM-side built-ins except gzip decompression (zlib pandas UDF).
"""

from __future__ import annotations

from typing import Any, Iterator, Mapping

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from . import ProcResult, register


@register("dissect")
def dissect(cfg: Mapping[str, Any]):
    """The dissect processor (``dissect/processor.go:64-120``); see
    ``beats_spark.dissect`` for tokenizer semantics."""
    from ..dissect import apply_dissect
    tokenizer = cfg["tokenizer"]
    field = cfg.get("field", "message")
    target_prefix = cfg.get("target_prefix", "dissect")
    overwrite = bool(cfg.get("overwrite_keys", False))
    trim_values = cfg.get("trim_values", "none")
    trim_chars = cfg.get("trim_chars", " ")

    def make(df: DataFrame) -> ProcResult:
        def reshape(d: DataFrame) -> DataFrame:
            return apply_dissect(
                d, tokenizer, field=field, target_prefix=target_prefix,
                overwrite_keys=overwrite, trim_values=trim_values,
                trim_chars=trim_chars)
        return ProcResult(reshape=reshape)
    return make


def _json_is_structured(s: str) -> bool:
    """Mirror of ``isStructured`` (decode_json_fields.go:263): trimmed
    text bracketed by {} or []."""
    s = s.strip()
    return len(s) > 1 and ((s[0] == "[" and s[-1] == "]")
                           or (s[0] == "{" and s[-1] == "}"))


class _ProcessingSkipped(ValueError):
    """Mirror of ``errProcessingSkipped``: an array met with
    ``process_array=False``."""


def _json_unmarshal_deep(text: str, max_depth: int, process_array: bool):
    """Recursive decode mirroring ``unmarshal``
    (decode_json_fields.go:185-233): parse one layer, then — while
    depth remains — re-parse any *string* member that looks structured
    (plain nested objects from the same parse are left alone, exactly
    like the reference, which only walks the top level of each decoded
    layer). An array met with ``process_array=False`` raises skipped;
    a nested skip keeps the original string in place."""
    import json

    out = json.loads(text)  # ValueError on bad JSON, like decodeJSON
    depth = max_depth - 1
    if depth == 0:
        return out

    def try_unmarshal(v):
        if not isinstance(v, str) or not _json_is_structured(v):
            return v
        try:
            return _json_unmarshal_deep(v, depth, process_array)
        except ValueError:  # parse error OR skipped: keep the string
            return v

    if isinstance(out, dict):
        return {k: try_unmarshal(v) for k, v in out.items()}
    if isinstance(out, list):
        if not process_array:
            raise _ProcessingSkipped("processing skipped")
        return [try_unmarshal(v) for v in out]
    return out


def _json_expand_dotted(obj: dict) -> dict:
    """``expand_keys`` (jsontransform.ExpandFields): dotted keys become
    nested objects, recursively. Best-effort on conflicts — when a
    scalar already occupies a path segment the dotted key is left
    as-is (the reference records an error instead)."""
    def expand(o):
        if isinstance(o, list):
            return [expand(v) for v in o]
        if not isinstance(o, dict):
            return o
        out: dict = {}
        for k, v in o.items():
            v = expand(v)
            if "." not in k:
                if isinstance(v, dict) and isinstance(out.get(k), dict):
                    out[k] = _merge(out[k], v)
                else:
                    out[k] = v
                continue
            parts = k.split(".")
            cur = out
            ok = True
            for p in parts[:-1]:
                nxt = cur.get(p)
                if nxt is None:
                    nxt = cur[p] = {}
                elif not isinstance(nxt, dict):
                    ok = False
                    break
                cur = nxt
            if ok:
                leaf = parts[-1]
                if isinstance(v, dict) and isinstance(cur.get(leaf), dict):
                    cur[leaf] = _merge(cur[leaf], v)
                else:
                    cur[leaf] = v
            else:
                out[k] = v
        return out

    def _merge(a: dict, b: dict) -> dict:
        m = dict(a)
        for k, v in b.items():
            if isinstance(v, dict) and isinstance(m.get(k), dict):
                m[k] = _merge(m[k], v)
            else:
                m[k] = v
        return m

    return expand(obj)


def decode_json_deep(col: Column, max_depth: int = 1,
                     process_array: bool = False,
                     expand_keys: bool = False,
                     document_id: str = "") -> Column:
    """Arrow-batched deep JSON decode with the reference's flag set
    (``decode_json_fields.go:50-59``). Returns a struct:

    - ``obj``: ``map<string,string>`` when the decoded value is an
      object — scalar members as their literal text (the same rendering
      ``from_json`` → map<string,string> uses), nested members as
      canonical JSON (sorted keys, no spaces);
    - ``raw``: canonical JSON of the whole decoded value (whatever its
      type) — the ``target``-mode output;
    - ``doc_id``: the ``document_id`` member (dotted paths supported),
      removed from ``obj``/``raw`` like the reference moves it to
      ``@metadata._id``.

    Unparseable input → all-null struct (reference tags an error)."""
    md, pa, ek, did = int(max_depth), bool(process_array), \
        bool(expand_keys), str(document_id or "")

    @F.pandas_udf("obj map<string,string>, raw string, doc_id string")
    def _k(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import json

        def enc(v):
            if isinstance(v, str):
                return v
            return json.dumps(v, separators=(",", ":"), sort_keys=True,
                              ensure_ascii=False)

        def pop_path(d, path):
            parts = path.split(".")
            cur = d
            for p in parts[:-1]:
                cur = cur.get(p) if isinstance(cur, dict) else None
                if cur is None:
                    return None
            if isinstance(cur, dict) and parts[-1] in cur:
                v = cur[parts[-1]]
                if isinstance(v, str):
                    del cur[parts[-1]]
                    return v
            return None

        def one(t):
            if t is None:
                return (None, None, None)
            try:
                out = _json_unmarshal_deep(t, md, pa)
            except ValueError:
                return (None, None, None)
            doc_id = None
            if did and isinstance(out, dict):
                doc_id = pop_path(out, did)
            if ek and isinstance(out, dict):
                out = _json_expand_dotted(out)
            obj = ({k: enc(v) for k, v in out.items()}
                   if isinstance(out, dict) else None)
            return (obj, enc(out), doc_id)

        for s in it:
            rows = [one(t) for t in s]
            yield pd.DataFrame(rows, columns=["obj", "raw", "doc_id"])

    return _k(col)


@register("decode_json_fields")
def decode_json_fields(cfg: Mapping[str, Any]):
    """Parse JSON strings (``actions/decode_json_fields.go:103``). With
    ``schema`` given, keys become typed columns via ``from_json``;
    without, the parsed object lands as ``map<string,string>`` (the
    closest declared type to mapstr). The reference's advanced flags —
    ``max_depth``, ``process_array``, ``expand_keys``, ``document_id``
    (→ ``meta__id`` column, our spelling of ``@metadata._id``) — route
    through the Arrow deep-decode kernel."""
    fields = list(cfg.get("fields", []))
    target = cfg.get("target")
    schema = cfg.get("schema")  # DDL string, ours (the reference is schemaless)
    max_depth = int(cfg.get("max_depth", 1))
    process_array = bool(cfg.get("process_array", False))
    expand_keys = bool(cfg.get("expand_keys", False))
    document_id = cfg.get("document_id", "")
    advanced = (max_depth > 1 or process_array or expand_keys
                or bool(document_id))

    def make(df: DataFrame) -> ProcResult:
        assigns = {}
        for fld in fields:
            if fld not in df.columns:
                continue
            out = target if target is not None else fld
            if schema:
                parsed = F.from_json(F.col(fld), schema)
                st = T._parse_datatype_string(schema)
                if isinstance(st, T.StructType):
                    for sub in st.fieldNames():
                        assigns[f"{out}_{sub}" if out else sub] = parsed[sub]
                else:
                    assigns[out or fld] = parsed
            elif advanced:
                deep = decode_json_deep(
                    F.col(fld), max_depth=max_depth,
                    process_array=process_array, expand_keys=expand_keys,
                    document_id=document_id)
                if target:
                    assigns[target] = deep["raw"]
                else:
                    # relational encoding of PutValue(field, output):
                    # the map column carries object decodes; the _raw
                    # companion always preserves the decoded value
                    # (arrays/scalars included) or, on a parse error,
                    # the original text — the reference never destroys
                    # the field (decode_json_fields.go:121-127,145)
                    assigns[out or fld] = deep["obj"]
                    assigns[f"{out or fld}_raw"] = F.coalesce(
                        deep["raw"], F.col(fld))
                if document_id:
                    assigns["meta__id"] = deep["doc_id"]
            else:
                assigns[out or fld] = F.from_json(
                    F.col(fld), "map<string,string>")
        return ProcResult(assigns=assigns)
    return make


@register("decode_csv_fields")
def decode_csv_fields(cfg: Mapping[str, Any]):
    """RFC-4180 field → string array (``decode_csv_fields.go:101``,
    which parses with Go ``encoding/csv``). Arrow-batched csv.reader —
    quoted fields may contain the separator, doubled quotes escape, and
    a quoted field may span embedded newlines; ``trim_leading_space``
    mirrors the reference option. Unparseable rows yield null (the
    reference tags an error and leaves the field)."""
    fields = cfg.get("fields", {})
    sep = cfg.get("separator", ",")
    trim = bool(cfg.get("trim_leading_space", False))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _parse(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import csv as _csv
        import io as _io

        def one(v):
            if v is None:
                return None
            try:
                rows = list(_csv.reader(_io.StringIO(v), delimiter=sep,
                                        skipinitialspace=trim))
            except _csv.Error:
                return None
            return rows[0] if rows else []

        for s in it:
            yield s.map(one)

    def make(df: DataFrame) -> ProcResult:
        assigns = {}
        for src, dst in fields.items():
            if src not in df.columns:
                continue
            assigns[dst] = _parse(F.col(src))
        return ProcResult(assigns=assigns)
    return make


@register("decode_base64_field")
def decode_base64_field(cfg: Mapping[str, Any]):
    """base64 → string (``decode_base64_field.go:76``)."""
    field = cfg.get("field", {})
    src, dst = field.get("from"), field.get("to")

    def make(df: DataFrame) -> ProcResult:
        if src not in df.columns:
            return ProcResult()
        return ProcResult(assigns={dst or src: F.unbase64(F.col(src)).cast("string")})
    return make


@register("decompress_gzip_field")
def decompress_gzip_field(cfg: Mapping[str, Any]):
    """gunzip a binary/string field (``decompress_gzip_field.go:69``) —
    zlib inside an Arrow-batched pandas UDF (no JVM built-in)."""
    field = cfg.get("field", {})
    src, dst = field.get("from"), field.get("to")

    @F.pandas_udf(T.StringType())
    def _gunzip(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import gzip
        def one(v):
            if v is None:
                return None
            try:
                b = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
                return gzip.decompress(b).decode("utf-8", "replace")
            except OSError:
                return None
        for s in it:
            yield s.map(one)

    def make(df: DataFrame) -> ProcResult:
        if src not in df.columns:
            return ProcResult()
        return ProcResult(assigns={dst or src: _gunzip(F.col(src))})
    return make


@register("urldecode")
def urldecode(cfg: Mapping[str, Any]):
    """percent-decode (``urldecode/urldecode.go:75``) — JVM url_decode."""
    fields = cfg.get("fields", [])

    def make(df: DataFrame) -> ProcResult:
        assigns = {}
        for spec in fields:
            src = spec["from"]
            dst = spec.get("to", src)
            if src in df.columns:
                assigns[dst] = F.url_decode(F.col(src))
        return ProcResult(assigns=assigns)
    return make


@register("extract_field")
def extract_field(cfg: Mapping[str, Any]):
    """Split by separator, take index (``actions/extract_field.go:76``)."""
    field = cfg["field"]
    sep = cfg["separator"]
    index = int(cfg["index"])
    target = cfg.get("target", field)

    def make(df: DataFrame) -> ProcResult:
        import re as _re
        return ProcResult(assigns={
            target: F.split(F.col(field), _re.escape(sep)).getItem(index)})
    return make


@register("extract_array")
def extract_array(cfg: Mapping[str, Any]):
    """Array positions → named fields (``extract_array.go:117``)."""
    field = cfg["field"]
    mappings = cfg.get("mappings", {})

    def make(df: DataFrame) -> ProcResult:
        return ProcResult(assigns={
            name: F.col(field).getItem(int(i)) for name, i in mappings.items()})
    return make


@register("decode_duration")
def decode_duration(cfg: Mapping[str, Any]):
    """Go duration string ("1h30m", "250ms") → number
    (``decode_duration/decode_duration.go:48-75``). Formats match the
    reference exactly: ``milliseconds`` (the DEFAULT; truncated to
    whole ms like ``d.Milliseconds()``), ``seconds``, ``minutes``,
    ``hours``. Pure-Catalyst: extract each unit with regexp and
    sum — no UDF."""
    field = cfg["field"]
    fmt = cfg.get("format", "milliseconds")
    _units = [("h", 3600.0), ("m", 60.0), ("s", 1.0), ("ms", 0.001),
              ("us", 1e-6), ("ns", 1e-9)]
    if fmt not in ("milliseconds", "seconds", "minutes", "hours"):
        raise ValueError(f"decode_duration: unknown format {fmt!r}")

    def make(df: DataFrame) -> ProcResult:
        col = F.col(field)
        total = F.lit(0.0)
        for unit, mult in _units:
            # value directly followed by this unit and not a longer unit
            pat = r"(\d+(?:\.\d+)?)" + unit + (r"(?![a-z])" if unit in ("m", "s", "u", "n") else "")
            ext = F.regexp_extract(col, pat, 1)
            total = total + F.when(ext == "", F.lit(0.0)).otherwise(ext.cast("double") * mult)
        if fmt == "milliseconds":
            # d.Milliseconds() truncates toward zero; round to 6
            # decimals first so IEEE artifacts (1.001×1000 =
            # 1000.999…) don't truncate a whole millisecond away
            total = F.floor(F.round(total * 1000.0, 6)).cast("double")
        elif fmt == "minutes":
            total = total / 60.0
        elif fmt == "hours":
            total = total / 3600.0
        return ProcResult(assigns={field: total})
    return make


# Magic-byte table mirroring the h2non/filetype matchers the reference
# consults first (``libbeat/mime/byte.go:40-44``): hex prefix of the
# value → mime, most-specific first. Container formats with interior
# markers (RIFF family, ISO-BMFF ftyp, Matroska, tar) are special-cased
# below the plain prefixes.
_MAGIC_PREFIXES = [
    ("89504E470D0A1A0A", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),
    ("49492A00", "image/tiff"),
    ("4D4D002A", "image/tiff"),
    ("424D", "image/bmp"),
    ("00000100", "image/x-icon"),
    ("1A45DFA3", None),                  # matroska/webm, see below
    ("494433", "audio/mpeg"),            # ID3-tagged mp3
    ("FFFB", "audio/mpeg"),
    ("4F676753", "audio/ogg"),
    ("664C6143", "audio/x-flac"),
    ("4D546864", "audio/midi"),
    ("25504446", "application/pdf"),
    ("504B0304", "application/zip"),
    ("1F8B", "application/gzip"),
    ("425A68", "application/x-bzip2"),
    ("FD377A585A00", "application/x-xz"),
    ("28B52FFD", "application/zstd"),
    ("377ABCAF271C", "application/x-7z-compressed"),
    ("7F454C46", "application/x-executable"),          # ELF
    ("4D5A", "application/vnd.microsoft.portable-executable"),
    ("CFFAEDFE", "application/x-mach-binary"),
    ("CEFAEDFE", "application/x-mach-binary"),
    ("FEEDFACE", "application/x-mach-binary"),
    ("FEEDFACF", "application/x-mach-binary"),
    ("0061736D", "application/wasm"),
    ("774F4646", "application/font-woff"),
    ("774F4632", "application/font-woff2"),
    ("53514C69746520", "application/x-sqlite3"),
    ("7B5C727466", "application/rtf"),
    ("25215053", "application/postscript"),
]


@register("detect_mime_type")
def detect_mime_type(cfg: Mapping[str, Any]):
    """Mime sniffing (``detect_mime_type.go:53`` →
    ``libbeat/mime/byte.go``), mirroring the reference's three stages
    entirely JVM-side (zero Python, pushdown-safe):

    1. magic-byte match (the h2non/filetype table the reference calls
       first) → the bare mime value;
    2. WHATWG-style content sniffing (``http.DetectContentType``):
       html tags → ``text/html; charset=utf-8``, ``<?xml`` →
       ``text/xml; charset=utf-8``, UTF-16 BOMs;
    3. textual fallback: valid JSON (``try_parse_json``, the same
       whole-payload validity check as Go ``json.Valid``) →
       ``application/json``; an XML-shaped document → ``text/xml``
       (a structural approximation of ``xml.Unmarshal`` — balanced
       opening/closing markers, not a full parse — documented
       divergence); other control-character-free text →
       ``text/plain; charset=utf-8``.

    Unknown binary yields NULL, the flat-column analog of the
    reference leaving the target unset when ``mime.Detect`` returns
    the empty string."""
    field = cfg["field"]
    target = cfg.get("target", "mime_type")

    def make(df: DataFrame) -> ProcResult:
        b = F.col(field).cast("binary")
        s = F.col(field).cast("string")
        hexhead = F.hex(F.substring(b, 1, 16))

        col = None

        def add(cond, mime):
            nonlocal col
            lit = F.lit(mime)
            col = F.when(cond, lit) if col is None else col.when(cond, lit)

        for hx, mime in _MAGIC_PREFIXES:
            if mime is None:
                continue
            add(hexhead.startswith(hx), mime)
        # container markers live at BYTE offsets; the UTF-8 cast
        # counts code points (a multi-byte lead byte earlier in the
        # payload shifts every later offset — e.g. a RIFF size byte in
        # 0xC2-0xF4 broke the WEBP tag read). ISO-8859-1 maps every
        # byte to exactly one char, so offsets in s1 ARE byte offsets.
        s1 = F.decode(b, "ISO-8859-1")
        # RIFF containers: type tag at bytes 9-12
        riff = hexhead.startswith("52494646")
        tag = F.substring(s1, 9, 4)
        add(riff & (tag == "WEBP"), "image/webp")
        add(riff & (tag == "WAVE"), "audio/x-wav")
        add(riff & (tag == "AVI "), "video/x-msvideo")
        # ISO-BMFF: 'ftyp' at bytes 5-8, brand distinguishes qt
        ftyp = F.substring(s1, 5, 4) == "ftyp"
        add(ftyp & (F.substring(s1, 9, 2) == "qt"), "video/quicktime")
        add(ftyp, "video/mp4")
        # Matroska: doctype string decides webm vs mkv
        ebml = hexhead.startswith("1A45DFA3")
        head64 = F.substring(s1, 1, 64)
        add(ebml & head64.contains("webm"), "video/webm")
        add(ebml, "video/x-matroska")
        # tar: 'ustar' at byte offset 257
        add(F.substring(s1, 258, 5) == "ustar", "application/x-tar")

        # ------- WHATWG-ish sniffing over the textual head -------
        # WHATWG skips tab/LF/FF/CR/space; ltrim strips spaces only
        trimmed = F.regexp_replace(s, r"^[\t\n\f\r ]+", "")
        lower = F.lower(F.substring(trimmed, 1, 32))
        html_tags = ("<!doctype html", "<html", "<head", "<script",
                     "<iframe", "<h1", "<div", "<font", "<table", "<a",
                     "<style", "<title", "<b", "<body", "<br", "<p")
        html_hit = None
        for t in html_tags:
            # the tag must be terminated by a space or '>' (WHATWG)
            c = lower.startswith(t + ">") | lower.startswith(t + " ")
            html_hit = c if html_hit is None else (html_hit | c)
        add(html_hit, "text/html; charset=utf-8")
        add(lower.startswith("<?xml"), "text/xml; charset=utf-8")
        add(hexhead.startswith("FEFF"), "text/plain; charset=utf-16be")
        add(hexhead.startswith("FFFE"), "text/plain; charset=utf-16le")

        # ------- parse fallback for the remaining text -------
        # binary detection: a control byte (C0 minus tab/lf/cr/ff/esc,
        # WHATWG's binary set) or a UTF-8 decode failure (U+FFFD from
        # the cast) marks the value as non-text
        is_binary = s.rlike(
            "[\x00-\x08\x0b\x0e-\x1a\x1c-\x1f�]")
        # Go json.Valid accepts any JSON value incl. scalars — so does
        # try_parse_json; no object/array prefix guard, same as the
        # reference
        add(~is_binary & F.try_parse_json(s).isNotNull(),
            "application/json")
        xmlish = (trimmed.startswith("<") & F.rtrim(s).endswith(">")
                  & (s.contains("</") | s.contains("/>")))
        add(~is_binary & xmlish, "text/xml")
        add(~is_binary & (F.length(s) > 0), "text/plain; charset=utf-8")

        return ProcResult(
            assigns={target: col.otherwise(F.lit(None).cast("string"))})
    return make


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the session default parallelism when the
    input arrives in fewer splits (a single small parquet file would
    otherwise serialize the whole op on one core). No-op at scale
    where the scan already has enough splits.

    Connect-safe: uses only DataFrame metadata (``inputFiles``) and
    confs — never an RDD handle. ``inputFiles`` undercounts partitions
    for few-but-huge files (each file is >=1 split), so the worst case
    is one redundant round-robin shuffle, never lost parallelism."""
    spark = df.sparkSession
    try:
        target = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect has no sparkContext
        target = int(spark.conf.get("spark.sql.shuffle.partitions",
                                    "200"))
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


def json_schema_profile(df: DataFrame, field: str = "message",
                        max_depth: int = 2) -> DataFrame:
    """Schema profile of a JSON corpus: ``(path, jtype, n)`` — how
    many documents carry each dotted key path, with the JSON type
    observed there (``object/array/string/number/boolean/null``).
    Documents that fail to parse count under the sentinel path
    ``<invalid>``/``null`` rather than erroring (the corpus is
    untrusted input; same contract as ``decode_json_fields``'s
    ``add_error_key``, decode_json_fields.go:99).

    This is the schema-drift monitor for an NDJSON firehose: run per
    ingest window, diff against yesterday's profile, and a producer
    that started emitting ``user.id`` as a string lights up as a new
    (path, jtype) row — before it poisons a typed sink.

    Shape: one Arrow kernel emits (path, jtype) pairs per document —
    a walk Catalyst cannot express because Spark's JSON built-ins
    unquote scalars (``get_json_object`` returns ``123`` for both
    ``123`` and ``"123"``), erasing exactly the distinction this op
    exists to report. Fan-out is bounded by keys-per-doc × depth; the
    one exchange aggregates (path, jtype) — bytes of key names, never
    document content. Depth is capped (default 2) the same way
    ``decode_json_fields`` caps ``max_depth``.
    """
    import json as _json

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def jtype(v):
            if v is None:
                return "null"
            if isinstance(v, bool):
                return "boolean"
            if isinstance(v, (int, float)):
                return "number"
            if isinstance(v, str):
                return "string"
            if isinstance(v, list):
                return "array"
            return "object"

        for pdf in batches:
            paths, types = [], []
            for raw in pdf[field]:
                try:
                    doc = _json.loads(raw) if raw is not None else None
                    ok = isinstance(doc, dict)
                except Exception:
                    ok = False
                if not ok:
                    paths.append("<invalid>")
                    types.append("null")
                    continue
                stack = [("", doc, 0)]
                while stack:
                    prefix, obj, depth = stack.pop()
                    for k, v in obj.items():
                        p = f"{prefix}.{k}" if prefix else k
                        paths.append(p)
                        types.append(jtype(v))
                        if isinstance(v, dict) and depth + 1 < max_depth:
                            stack.append((p, v, depth + 1))
            yield pd.DataFrame({"path": pd.array(paths, dtype="string"),
                                "jtype": pd.array(types, dtype="string")})

    pairs = _spread(df.select(field)).mapInPandas(
        walk, schema="path string, jtype string")
    return pairs.groupBy("path", "jtype").agg(
        F.count(F.lit(1)).alias("n"))


@register("decode_cef")
def decode_cef_proc(cfg: Mapping[str, Any]):
    """Common Event Format decode (x-pack
    ``processors/decode_cef/decode_cef.go:99-187``; grammar in
    :mod:`beats_spark.functions.cef`). ``field`` (default
    ``message``) → ``target_field`` (default ``cef``) header struct
    plus either ``{target}_ext`` map or, with ``extensions: [keys]``,
    one pruned ``{target}_{key}`` column per named extension — the
    form that keeps the whole decode inside codegen with no map
    build."""
    from ..functions.cef import cef_extensions, cef_get, cef_header

    fld = cfg.get("field", "message")
    target = cfg.get("target_field", "cef")
    keys = cfg.get("extensions")

    def make(df: DataFrame) -> ProcResult:
        if fld not in df.columns:
            return ProcResult()
        line = F.col(fld)
        assigns = {target: cef_header(line)}
        if keys is None:
            assigns[f"{target}_ext"] = cef_extensions(line)
        else:
            for k in keys:
                assigns[f"{target}_{k}"] = cef_get(line, k)
        return ProcResult(assigns=assigns)
    return make


@register("parse_aws_vpc_flow_log")
def parse_aws_vpc_flow_log(cfg: Mapping[str, Any]):
    """AWS VPC Flow Log parse (x-pack
    ``processors/aws_vpcflow/parse_aws_vpc_flow_log.go``; field table
    + compiler in :mod:`beats_spark.functions.vpcflow`). Config keys
    mirror the reference (``config.go:56-66``): ``format`` (string or
    list, matched by field count), ``mode``
    (original/ecs/ecs_and_original, default ecs), ``field`` (default
    message), ``target_field`` (default aws_vpcflow — dotted targets
    flatten to underscores per the repo convention). A non-matching
    or unparseable message yields NULL outputs + ``error_message``
    with the event passing through — ``ignore_failure`` semantics,
    the only kind a columnar engine needs. Pure codegen."""
    from ..functions.vpcflow import vpc_flow_columns

    fmt = cfg.get("format")
    if not fmt:
        raise ValueError("parse_aws_vpc_flow_log: format is required")
    mode = cfg.get("mode", "ecs")
    fld = cfg.get("field", "message")
    target = cfg.get("target_field", "aws_vpcflow")

    def make(df: DataFrame) -> ProcResult:
        if fld not in df.columns:
            return ProcResult()
        return ProcResult(assigns=vpc_flow_columns(
            F.col(fld), fmt, mode=mode, target=target))
    return make
