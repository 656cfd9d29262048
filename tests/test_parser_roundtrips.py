"""Property-based round-trips for the container-format parsers:
serialize random records → parse → get the records back exactly.

These run PURE PYTHON (the kernels' row functions / the JVM
expressions' reference semantics) so hypothesis can afford hundreds of
examples without a Spark job per case; the Spark-side equivalence of
the same code paths is pinned by test_warc / test_journald and the
exact DuckDB oracles (`warc_extract`, `journald_export`)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from beats_spark.functions.warc import split_warc_records

# payload text: any unicode (no lone surrogates — not representable in
# utf-8), INCLUDING embedded \r\n\r\n sequences: Content-Length framing
# must not care what the payload contains
_payload = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)),
    max_size=200)

_token = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"),
                           whitelist_characters="-_."),
    min_size=1, max_size=24)

_header_val = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",),
                           blacklist_characters="\r\n"),
    max_size=60)


@st.composite
def _warc_record(draw):
    wtype = draw(_token)
    uri = draw(_header_val)
    payload = draw(_payload)
    extra = draw(st.dictionaries(_token, _header_val, max_size=3))
    return wtype, uri, payload, extra


def _serialize(records) -> str:
    out = []
    for wtype, uri, payload, extra in records:
        n = len(payload.encode("utf-8"))
        hdrs = [f"WARC-Type: {wtype}", f"WARC-Target-URI: {uri}",
                f"Content-Length: {n}"]
        for k, v in extra.items():
            # reserved names would override the fields we assert on
            if k.lower() not in ("warc-type", "warc-target-uri",
                                 "content-length", "warc-date",
                                 "warc-record-id", "content-type"):
                hdrs.append(f"{k}: {v}")
        out.append("WARC/1.0\r\n" + "\r\n".join(hdrs)
                   + f"\r\n\r\n{payload}\r\n\r\n")
    return "".join(out)


@given(st.lists(_warc_record(), min_size=0, max_size=5))
@settings(max_examples=200, deadline=None)
def test_warc_roundtrip(records):
    got = split_warc_records(_serialize(records))
    assert len(got) == len(records)
    for (wtype, uri, payload, _), rec in zip(records, got):
        r_type, r_uri, _date, _rid, _ctype, r_len, r_payload = rec
        assert r_type == wtype
        # values are trimmed with BYTES semantics (ascii whitespace
        # only — str.strip() would also eat \x1c-\x1f separators)
        assert r_uri == uri.strip(" \t\r\n\x0b\x0c")
        assert r_len == len(payload.encode("utf-8"))
        assert r_payload == payload        # BYTE-identical, any content


@given(st.text(max_size=120))
@settings(max_examples=300, deadline=None)
def test_warc_never_hangs_or_misparses_garbage(s):
    """Arbitrary text either parses (iff it happens to be well-formed)
    or raises ValueError — never a wrong-typed error, never an
    infinite loop, never a silently-misframed record."""
    try:
        out = split_warc_records(s)
    except ValueError:
        return
    # a successful parse must account for records honestly
    for rec in out:
        assert rec[5] == len(rec[6].encode("utf-8"))


_j_key = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Nd"),
                           whitelist_characters="_"),
    min_size=1, max_size=20)
_j_val = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",),
                           blacklist_characters="\n"),
    max_size=60)


@given(st.lists(st.dictionaries(_j_key, _j_val, min_size=1, max_size=6),
                min_size=1, max_size=4))
@settings(max_examples=150, deadline=None)
def test_journald_export_reference_semantics(records):
    """Pure-python reference model of the export parse (same rules the
    Column expressions implement: blank-line records, first-'='
    split, last-wins repeats) — serialized blobs round-trip."""
    blob = "\n\n".join(
        "\n".join(f"{k}={v}" for k, v in rec.items())
        for rec in records) + "\n"

    # reference parse (mirrors functions/journald.py record_map)
    out = []
    for chunk in blob.split("\n\n"):
        if chunk == "":
            continue
        fields = {}
        for line in chunk.split("\n"):
            if line == "":
                continue
            assert "=" in line
            k, _, v = line.partition("=")
            fields[k] = v                 # dict insert = last wins
        out.append(fields)
    assert len(out) == len(records)
    for want, got in zip(records, out):
        assert got == {k: v for k, v in want.items()}


# ---------------------------------------------------- robots patterns

def _wildcard_match(pattern: str, path: str) -> bool:
    """Independent reference matcher for RFC 9309 patterns (prefix
    match, '*' spans anything, trailing '$' anchors) — dynamic
    programming, no regex — to cross-check compile_robots_pattern."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = pattern.split("*")
    pos, first = 0, True
    for i, part in enumerate(parts):
        if first:
            if not path.startswith(part):
                return False
            pos = len(part)
            first = False
            continue
        if i == len(parts) - 1 and anchored:
            return path.endswith(part) and len(path) - len(part) >= pos
        j = path.find(part, pos)
        if j < 0:
            return False
        pos = j + len(part)
    return pos == len(path) if (anchored and len(parts) == 1) else \
        (path == path[:pos] + path[pos:] if not anchored
         else len(parts) > 1 or pos == len(path))


_pat_chars = st.text(alphabet="ab/*.?$+()[", min_size=0, max_size=12)
_path_chars = st.text(alphabet="ab/.?$+()[", min_size=0, max_size=16)


@given(_pat_chars, _path_chars)
@settings(max_examples=500, deadline=None)
def test_robots_pattern_compile_matches_reference(pattern, path):
    """compile_robots_pattern's regex agrees with an independent
    non-regex wildcard matcher on arbitrary patterns/paths, including
    regex metacharacters that must be treated as literals and '$'
    appearing mid-pattern (literal) vs trailing (anchor)."""
    import re as _re
    from beats_analytics.robots import compile_robots_pattern
    # mid-pattern '$' is literal only when not the final char; the
    # reference matcher above treats a trailing '$' as the anchor and
    # every other '$' literally, same as the compiler
    got = bool(_re.search(compile_robots_pattern(pattern), path))
    want = _wildcard_match(pattern, path)
    assert got == want, (pattern, path, got, want)
