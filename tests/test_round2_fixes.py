"""Round-2 fixes: deterministic cache store, RFC-4180 CSV decode,
token-bucket rate limit, IPv6 network conditions, decode_json_fields
advanced flags, grok multi-pattern first-match-wins.

Vectors ported from the reference suites:
- libbeat/processors/decode_csv_fields/decode_csv_fields_test.go
- libbeat/conditions/network_test.go (TestIsPrivateNetwork et al.)
- libbeat/processors/actions/decode_json_fields.go flag semantics
- libbeat/processors/ratelimit/token_bucket.go replenish/withdraw
"""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from beats_spark.conditions import compile_condition
from beats_spark.processors import compile_processors
from beats_spark.processors.core import token_bucket_filter
from beats_spark.processors.enrich import build_cache_store


# ------------------------------------------------- build_cache_store

def test_cache_store_deterministic_across_partitionings(spark):
    # same key written at several timestamps; winner must be the
    # max-ts row no matter how the input is partitioned
    rows = [("k1", i, f"v{i}") for i in range(50)] + \
           [("k2", i, f"w{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "key_f string, ts int, val string")
    winners = {}
    for nparts in (1, 8):
        store = build_cache_store(df.repartition(nparts), "key_f",
                                  ["val"], ts_field="ts")
        got = {r["key"]: r["val"] for r in store.collect()}
        winners[nparts] = got
    assert winners[1] == winners[8] == {"k1": "v49", "k2": "w49"}


def test_cache_store_tiebreak_without_ts(spark):
    df = spark.createDataFrame(
        [("k", "a"), ("k", "z"), ("k", "m")], "key_f string, val string")
    store = build_cache_store(df.repartition(4), "key_f", ["val"])
    assert store.collect()[0]["val"] == "z"  # desc tiebreak


# --------------------------------------------- decode_csv_fields (RFC-4180)

CSV_CASES = [
    # (input, separator, trim, expected) — decode_csv_fields_test.go
    ("17,192.168.33.1,8.8.8.8", ",", False,
     ["17", "192.168.33.1", "8.8.8.8"]),
    ('"hello ""world"""', ",", False, ['hello "world"']),
    ("1.5;false;hello world;3", ";", False,
     ["1.5", "false", "hello world", "3"]),
    (" Here's,   some,   extra ,whitespace", ",", True,
     ["Here's", "some", "extra ", "whitespace"]),
    ('Tab\tin\tASCII\thas\tthe\t"decimal\tcharacter\tcode"\t9', "\t",
     False,
     ["Tab", "in", "ASCII", "has", "the", "decimal\tcharacter\tcode",
      "9"]),
    ("\U0001F422\U0001F37A\U0001F314\U0001F408\U0001F37A\U0001F37A"
     "\U0001F425\U0001F432", "\U0001F37A", False,
     ["\U0001F422", "\U0001F314\U0001F408", "", "\U0001F425\U0001F432"]),
]


@pytest.mark.parametrize("raw,sep,trim,expected", CSV_CASES)
def test_decode_csv_rfc4180(spark, raw, sep, trim, expected):
    df = spark.createDataFrame([(raw,)], "message string")
    chain = compile_processors([
        {"decode_csv_fields": {"fields": {"message": "csv"},
                               "separator": sep,
                               "trim_leading_space": trim}}])
    assert chain(df).collect()[0]["csv"] == expected


def test_decode_csv_quoted_separator_inside_field(spark):
    # the exact shape the old F.split mis-handled
    df = spark.createDataFrame(
        [('1,"Mozilla/5.0 (X11, Linux)",200',)], "message string")
    chain = compile_processors([
        {"decode_csv_fields": {"fields": {"message": "csv"}}}])
    assert chain(df).collect()[0]["csv"] == \
        ["1", "Mozilla/5.0 (X11, Linux)", "200"]


# ------------------------------------------------- token bucket rate limit

def _ev(spark, times, key="u1"):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(key, i, base + dt.timedelta(seconds=s))
            for i, s in enumerate(times)]
    return spark.createDataFrame(rows, "k string, id long, ts timestamp")


def _kept_ids(df):
    return sorted(r["id"] for r in df.collect())


def test_token_bucket_steady_under_limit(spark):
    # 1 event/sec against 2/s: always ≥1 token available
    df = _ev(spark, [0, 1, 2, 3, 4, 5])
    out = token_bucket_filter(df, limit="2/s", fields=["k"],
                              ts_field="ts", order_by=["id"])
    assert _kept_ids(out) == [0, 1, 2, 3, 4, 5]


def test_token_bucket_burst_consumes_depth_then_refills(spark):
    # 5 simultaneous events at t=0 with 2/s (depth 2): first 2 pass;
    # at t=1 the bucket has refilled 2 tokens → next passes
    df = _ev(spark, [0, 0, 0, 0, 0, 1])
    out = token_bucket_filter(df, limit="2/s", fields=["k"],
                              ts_field="ts", order_by=["id"])
    assert _kept_ids(out) == [0, 1, 5]


def test_token_bucket_burst_straddling_window_boundary(spark):
    # 5 events at t=59.9s + 5 at t=60.1s, limit 5/m. The window
    # algorithm waves all 10 through (two distinct minutes); the
    # bucket refills only 0.2s × 5/60 ≈ 0.017 tokens across the
    # boundary, so the second burst is dropped — the divergence the
    # reference's continuous refill implies (token_bucket.go:56-65).
    times = [59.9] * 5 + [60.1] * 5
    df = _ev(spark, times)
    bucket = token_bucket_filter(df, limit="5/m", fields=["k"],
                                 ts_field="ts", order_by=["id"])
    assert _kept_ids(bucket) == [0, 1, 2, 3, 4]

    chain = compile_processors([
        {"rate_limit": {"limit": "5/m", "fields": ["k"],
                        "timestamp_field": "ts", "order_by": ["id"]}}])
    assert _kept_ids(chain(df)) == list(range(10))  # window waves all


def test_token_bucket_partial_refill_accumulates(spark):
    # 1/s, burst at t=0 drains; +0.5s refills 0.5 tokens (not enough);
    # +0.5s more reaches 1.0 → allowed (continuous refill, not window)
    df = _ev(spark, [0, 0.5, 1.0])
    out = token_bucket_filter(df, limit="1/s", fields=["k"],
                              ts_field="ts", order_by=["id"])
    assert _kept_ids(out) == [0, 2]


def test_token_bucket_keys_are_independent(spark):
    a = _ev(spark, [0, 0, 0], key="a")
    b = _ev(spark, [0, 0, 0], key="b")
    out = token_bucket_filter(a.unionByName(b), limit="1/s",
                              fields=["k"], ts_field="ts",
                              order_by=["id"])
    got = sorted((r["k"], r["id"]) for r in out.collect())
    assert got == [("a", 0), ("b", 0)]


def test_rate_limit_bad_unit_is_descriptive(spark):
    with pytest.raises(ValueError, match="unknown unit 'd'"):
        compile_processors([{"rate_limit": {"limit": "100/d"}}])(
            spark.range(1))


# ------------------------------------------------- IPv6 network condition

def _ips(spark, values):
    return spark.createDataFrame([(v,) for v in values], "ip string")


def _matched(spark, values, cond):
    df = _ips(spark, values)
    return [r["ip"] for r in
            df.filter(compile_condition(cond)).collect()]


def test_network_ipv6_cidr(spark):
    vals = ["fd11:3456:789a:1::1", "2001:db8::1", "10.0.0.1", "garbage"]
    got = _matched(spark, vals, {"network": {"ip": "fd00::/8"}})
    assert got == ["fd11:3456:789a:1::1"]


def test_network_private_matches_go_vectors(spark):
    # TestIsPrivateNetwork vectors (network_test.go:269-281)
    yes = ["10.0.0.0", "10.255.255.255", "192.168.0.0",
           "192.168.255.255", "172.16.0.0", "172.31.255.255",
           "fd11:3456:789a:1::1"]
    no = ["192.0.2.1", "2001:db8:ffff:ffff:ffff:ffff:ffff:1"]
    got = _matched(spark, yes + no, {"network": {"ip": "private"}})
    assert sorted(got) == sorted(yes)


def test_network_v6_named(spark):
    assert _matched(spark, ["::1", "127.0.0.1", "::2"],
                    {"network": {"ip": "loopback"}}) == \
        ["::1", "127.0.0.1"]
    assert _matched(spark, ["fe80::1", "169.254.1.1", "fd00::1"],
                    {"network": {"ip": "link_local_unicast"}}) == \
        ["fe80::1", "169.254.1.1"]
    # interface-local multicast is IPv6-only in Go (ff?1::/16 scope);
    # 224.0.0.1 must NOT match
    assert _matched(spark, ["ff01::1", "224.0.0.1", "ff02::1"],
                    {"network": {"ip": "interface_local_multicast"}}) \
        == ["ff01::1"]
    assert _matched(spark, ["ff02::1", "224.0.0.1", "ff0e::1"],
                    {"network": {"ip": "multicast"}}) == \
        ["ff02::1", "224.0.0.1", "ff0e::1"]


def test_network_public_and_mapped_v4(spark):
    got = _matched(spark, ["8.8.8.8", "fd00::1", "2001:db8::1",
                           "10.0.0.1", "255.255.255.255"],
                   {"network": {"ip": "public"}})
    assert got == ["8.8.8.8", "2001:db8::1"]
    # Go ParseIP folds ::ffff:a.b.c.d into the v4 address
    got = _matched(spark, ["::ffff:192.168.0.1", "::ffff:8.8.8.8"],
                   {"network": {"ip": "private"}})
    assert got == ["::ffff:192.168.0.1"]


def test_network_v6_in_v4_cidr_no_match(spark):
    assert _matched(spark, ["fd00::1", "10.0.0.1"],
                    {"network": {"ip": "10.0.0.0/8"}}) == ["10.0.0.1"]


# ------------------------------------------- decode_json_fields flags

def _decode(spark, payload, **cfg):
    df = spark.createDataFrame([(payload,)], "msg string")
    chain = compile_processors([
        {"decode_json_fields": dict(fields=["msg"], **cfg)}])
    return chain(df).collect()[0]


def test_decode_json_max_depth_1_keeps_nested_string(spark):
    row = _decode(spark, '{"inner":"{\\"x\\": 1}"}', max_depth=1,
                  process_array=True)
    assert row["msg"]["inner"] == '{"x": 1}'  # original spelling


def test_decode_json_max_depth_2_decodes_nested_string(spark):
    row = _decode(spark, '{"inner":"{\\"x\\": 1}"}', max_depth=2)
    assert row["msg"]["inner"] == '{"x":1}'  # canonical re-encode


def test_decode_json_process_array_flag(spark):
    payload = '{"a":"[1, 2]"}'
    # Go quirk mirrored exactly: at the depth boundary (max_depth=2 →
    # nested call hits maxDepth==0 right after decoding) the array IS
    # decoded regardless of process_array — the flag gates descending
    # INTO members, which only happens with depth to spare
    edge = _decode(spark, payload, max_depth=2)
    assert edge["msg"]["a"] == "[1,2]"
    keep = _decode(spark, payload, max_depth=3)
    assert keep["msg"]["a"] == "[1, 2]"      # skipped: raw string kept
    deco = _decode(spark, payload, max_depth=3, process_array=True)
    assert deco["msg"]["a"] == "[1,2]"       # decoded and re-encoded


def test_decode_json_expand_keys(spark):
    row = _decode(spark, '{"a.b":1,"a.c":2}', expand_keys=True)
    assert row["msg"]["a"] == '{"b":1,"c":2}'


def test_decode_json_document_id(spark):
    row = _decode(spark, '{"id":"x1","v":2}', document_id="id")
    assert row["meta__id"] == "x1"
    assert row["msg"] == {"v": "2"}


def test_decode_json_scalar_rendering_matches_from_json(spark):
    # numbers/bools render as literals, like from_json map<string,string>
    row = _decode(spark, '{"n":5,"b":true,"s":"t"}', max_depth=2)
    assert row["msg"] == {"n": "5", "b": "true", "s": "t"}


# ------------------------------------- grok multi first-match-wins

def test_grok_multi_first_match_gates_all_fields(spark):
    from beats_spark.functions.grok import grok_extract_multi
    df = spark.createDataFrame([("val=7 name=x",)], "message string")
    # pattern 1 matches but defines only 'a'; pattern 2 also matches
    # and defines 'b' — ES first-match-wins must leave b null
    p1 = "val=%{NUMBER:a}"
    p2 = "val=%{NUMBER:a} name=%{WORD:b}"
    out = grok_extract_multi(df, "message", [p1, p2]).collect()[0]
    assert out["a"] == "7"
    assert out["b"] is None


# ------------------------------------------- Go layout timestamps

def test_go_layout_conversion():
    from beats_spark.processors.core import go_layout_to_spark
    assert go_layout_to_spark("2006-01-02 15:04:05") == \
        "yyyy-MM-dd HH:mm:ss"
    assert go_layout_to_spark("2006-01-02T15:04:05Z07:00") == \
        "yyyy-MM-dd'T'HH:mm:ssXXX"
    assert go_layout_to_spark("Mon Jan _2 15:04:05 2006") == \
        "EEE MMM d HH:mm:ss yyyy"          # time.ANSIC
    assert go_layout_to_spark("Jan _2 15:04:05.000") == \
        "MMM d HH:mm:ss.SSS"               # time.StampMilli
    assert go_layout_to_spark("02/Jan/2006:15:04:05 -0700") == \
        "dd/MMM/yyyy:HH:mm:ss xx"          # apache CLF


def test_timestamp_processor_accepts_go_layouts(spark):
    # the exact layouts the reference's own tests configure
    # (timestamp_test.go:43 — ANSIC + RFC3339)
    df = spark.createDataFrame(
        [(1, "Mon Jan  2 15:04:05 2006"),
         (2, "2024-03-05T10:30:00Z"),
         (3, "not a time")],
        "id int, raw string")
    chain = compile_processors([
        {"timestamp": {"field": "raw",
                       "layouts": ["Mon Jan _2 15:04:05 2006",
                                   "2006-01-02T15:04:05Z07:00"],
                       "target_field": "t"}}])
    got = {r["id"]: r["t"] for r in chain(df).collect()}
    assert str(got[1]) == "2006-01-02 15:04:05"
    assert str(got[2]) == "2024-03-05 10:30:00"
    assert got[3] is None


def test_timestamp_unix_layouts(spark):
    # timestamp_test.go:71/:95 — UNIX and UNIX_MS special layouts
    df = spark.createDataFrame(
        [(1, "1709634600"), (2, "1709634600.5")], "id int, raw string")
    chain = compile_processors([
        {"timestamp": {"field": "raw", "layouts": ["UNIX"],
                       "target_field": "t"}}])
    got = {r["id"]: str(r["t"]) for r in chain(df).collect()}
    assert got[1] == "2024-03-05 10:30:00"
    assert got[2] == "2024-03-05 10:30:00.500000"

    dfm = spark.createDataFrame([(1, "1709634600123")], "id int, raw string")
    chain = compile_processors([
        {"timestamp": {"field": "raw", "layouts": ["UNIX_MS"],
                       "target_field": "t"}}])
    assert str(chain(dfm).collect()[0]["t"]) == "2024-03-05 10:30:00.123000"


# --------------------------------------- fingerprint digest parity

def test_fingerprint_digests_match_reference(spark):
    # TestHashMethods vectors (fingerprint_test.go:116-133): hashed
    # bytes are writeFields' "|key|value...|" in sorted key order
    df = spark.createDataFrame(
        [("foo", "bar", "baz")],
        "field1 string, field2 string, unused_field string")
    want = {
        "md5": "4c45df4792f3ef850c928ec5f5232538",
        "sha1": "22f76427d626516d3f7a05785165b99617683b22",
        "sha256": ("1208288932231e313b369bae587ff574"
                   "cd3016a408e52e7128d7bee752674003"),
        "sha384": ("295adfe0bc03908948e4b0b6a54f4417"
                   "67867e426dda590430459c8a147fbba2"
                   "42a38cba282adee78335b9e08877b86c"),
        "sha512": ("f50ad51b63c92a0ed0c910527119b818"
                   "06f3110f0afaa1dcb93506a78371ea76"
                   "1e50c0fc09b08c441d832dd2da1b45e5"
                   "d8361adfb240e1fffc2695122a23e183"),
    }
    for method, expected in want.items():
        chain = compile_processors([
            {"fingerprint": {"fields": ["field1", "field2"],
                             "method": method}}])
        assert chain(df).collect()[0]["fingerprint"] == expected, method


def test_fingerprint_field_order_is_sorted(spark):
    # TestSourceFields: listing order and duplicates don't matter
    df = spark.createDataFrame([("foo", "bar")],
                               "field1 string, field2 string")
    a = compile_processors([{"fingerprint":
                             {"fields": ["field1", "field2"]}}])(df)
    b = compile_processors([{"fingerprint":
                             {"fields": ["field2", "field1"]}}])(df)
    assert a.collect()[0]["fingerprint"] == b.collect()[0]["fingerprint"]


def test_fingerprint_missing_field_nulls_out(spark):
    df = spark.createDataFrame([("foo", None)],
                               "field1 string, field2 string")
    out = compile_processors([{"fingerprint":
                               {"fields": ["field1", "field2"]}}])(df)
    assert out.collect()[0]["fingerprint"] is None


# ------------------------------- convert ip validation + registered_domain

def test_convert_ip_validates_like_parse_ip(spark):
    # convert_test.go "invalid conversion": "-" is not an IP → nulls
    # (the reference errors); valid v4 and v6 pass through
    df = spark.createDataFrame(
        [(1, "192.0.2.1"), (2, "-"), (3, "2001:db8::1"), (4, "999.1.1.1")],
        "id int, address string")
    chain = compile_processors([
        {"convert": {"fields": [{"from": "address", "to": "ip",
                                 "type": "ip"}]}}])
    got = {r["id"]: r["ip"] for r in chain(df).collect()}
    assert got == {1: "192.0.2.1", 2: None, 3: "2001:db8::1", 4: None}


def test_registered_domain_reference_vectors(spark):
    # registered_domain_test.go:39-50 (suffix subset supplied like the
    # caller-provided publicsuffix list)
    suffixes = ["com", "co.uk", "uk", "local", "mil"]
    cases = [
        ("www.google.com", "google.com", "www"),
        ("www.google.co.uk", "google.co.uk", "www"),
        ("www.mail.google.co.uk", "google.co.uk", "www.mail"),
        ("google.com", "google.com", None),
        ("www.ak.local", "ak.local", "www"),
        ("www.navy.mil", "navy.mil", "www"),
        ("com", None, None),          # bare eTLD
        ("localhost", None, None),    # no matching suffix
    ]
    df = spark.createDataFrame([(h,) for h, _, _ in cases],
                               "host string")
    chain = compile_processors([
        {"registered_domain": {"field": "host",
                               "target_subdomain_field": "subdomain",
                               "suffixes": suffixes}}])
    got = {r["host"]: (r["registered_domain"], r["subdomain"])
           for r in chain(df).collect()}
    for host, rd, sub in cases:
        assert got[host] == (rd, sub), host


def test_decode_duration_reference_formats(spark):
    # decode_duration_test.go:31-41: default = milliseconds (truncated
    # like d.Milliseconds()); seconds/minutes/hours divide
    df = spark.createDataFrame([(1, "1.001s"), (2, "3s"), (3, "3m")],
                               "id int, d string")
    def run(fmt=None):
        cfg = {"field": "d"}
        if fmt:
            cfg["format"] = fmt
        chain = compile_processors([{"decode_duration": cfg}])
        return {r["id"]: r["d"] for r in chain(df).collect()}
    assert run()[1] == 1001.0                 # default: milliseconds
    assert run("milliseconds")[1] == 1001.0
    assert run("seconds")[1] == pytest.approx(1.001)
    assert run("minutes")[2] == pytest.approx(0.05)   # 3s → 0.05 min
    assert run("hours")[3] == pytest.approx(0.05)     # 3m → 0.05 h


def test_community_id_spec_golden_vectors(spark):
    # communityid_test.go:42-64 — the published Community ID v1 spec
    # flow, seed 0 and seed 123; plus direction reversal equality
    df = spark.createDataFrame(
        [("128.232.110.120", 34855, "66.35.250.204", 80)],
        "sip string, sp int, dip string, dp int")
    from beats_spark.processors.misc import community_id_col
    for seed, want in [(0, "1:LQU9qZlK+B5F3KDmev6m5PMibrg="),
                       (123, "1:hTSGlFQnR58UCk+NfKRZzA32dPg=")]:
        fwd = df.select(community_id_col(
            F.col("sip"), F.col("sp"), F.col("dip"), F.col("dp"),
            F.lit("tcp"), seed=seed).alias("c")).collect()[0]["c"]
        rev = df.select(community_id_col(
            F.col("dip"), F.col("dp"), F.col("sip"), F.col("sp"),
            F.lit("tcp"), seed=seed).alias("c")).collect()[0]["c"]
        assert fwd == want, seed
        assert rev == want, seed


def test_network_direction_reference_vectors(spark):
    # add_network_direction_test.go:40-50 — named "private" networks,
    # plus the early-return cases: invalid/empty IPs get NO direction
    cases = [
        ("1.1.1.1", "8.8.8.8", "external"),
        ("1.1.1.1", "192.168.1.218", "inbound"),
        ("192.168.1.218", "8.8.8.8", "outbound"),
        ("192.168.1.218", "192.168.1.219", "internal"),
        ("", "192.168.1.219", None),
        ("foo", "192.168.1.219", None),
        ("192.168.1.218", "foo", None),
        ("192.168.1.218", "", None),
    ]
    df = spark.createDataFrame(
        [(i, s, d) for i, (s, d, _) in enumerate(cases)],
        "i int, source_ip string, destination_ip string")
    chain = compile_processors([
        {"add_network_direction": {"internal_networks": ["private"]}}])
    got = {r["i"]: r["network_direction"] for r in chain(df).collect()}
    for i, (_, _, want) in enumerate(cases):
        assert got[i] == want, cases[i]


def test_truncate_reference_vectors(spark):
    # truncate_fields_test.go: byte budget cuts mid-string at rune
    # boundaries; char budget counts characters not bytes
    df = spark.createDataFrame(
        [(1, "too long line"), (2, "ez egy túl hosszú sor")],
        "id int, message string")
    by_bytes3 = compile_processors([
        {"truncate_fields": {"fields": ["message"], "max_bytes": 3}}])
    assert {r["id"]: r["message"] for r in by_bytes3(df).collect()}[1] \
        == "too"
    by_chars10 = compile_processors([
        {"truncate_fields": {"fields": ["message"],
                             "max_characters": 10}}])
    assert {r["id"]: r["message"] for r in by_chars10(df).collect()}[2] \
        == "ez egy túl"
    by_bytes10 = compile_processors([
        {"truncate_fields": {"fields": ["message"], "max_bytes": 10}}])
    assert {r["id"]: r["message"] for r in by_bytes10(df).collect()}[2] \
        == "ez egy tú"   # ú is 2 bytes → exactly 10


def test_decode_base64_accepts_unpadded(spark):
    # decode_base64_field.go:115 uses RawStdEncoding after trimming
    # '=' — unpadded input must decode
    df = spark.createDataFrame(
        [(1, "aGVsbG8="), (2, "aGVsbG8"), (3, "Y29ycmVjdCBkYXRh")],
        "id int, b string")
    chain = compile_processors([
        {"decode_base64_field": {"field": {"from": "b", "to": "out"}}}])
    got = {r["id"]: r["out"] for r in chain(df).collect()}
    assert got == {1: "hello", 2: "hello", 3: "correct data"}


def test_decode_json_non_object_and_error_preserved(spark):
    # decode_json_fields.go: unmarshal error leaves the field (plus an
    # error); a non-object decode replaces the field with the decoded
    # value. Relationally: the map column is null for both, and the
    # _raw companion holds the canonical decoded value (array/scalar)
    # or the original text on a parse error — nothing is destroyed.
    arr = _decode(spark, '["a","b"]', expand_keys=True)
    assert arr["msg"] is None and arr["msg_raw"] == '["a","b"]'
    bad = _decode(spark, '{not json', expand_keys=True)
    assert bad["msg"] is None and bad["msg_raw"] == '{not json'
    num = _decode(spark, '42', max_depth=2)
    assert num["msg"] is None and num["msg_raw"] == '42'


def test_strict_ipv6_validation_matches_parseip(spark):
    # convert type=ip / add_network_direction validate with the STRICT
    # v6 class (net.ParseIP semantics) — the loose grok class accepts
    # '1:2:3' etc.; checked through Spark's Java regex engine
    import ipaddress
    from pyspark.sql import functions as F
    from beats_spark.conditions import _IPV6_RE
    cases = ["::", "::1", "1::", "1:2:3:4:5:6:7:8", "1:2:3",
             "1:2:3:4:5:6:7", "::ffff:1.2.3.4", "1:2:3:4:5:6:1.2.3.4",
             "1::1.2.3.4", "1:2::3:1.2.3.4", "::1.2.3.4",
             "1:2:3:4:5::1.2.3.4", "1:2:3:4:5:6::1.2.3.4", "g::1",
             ":::", "1::2::3", "1:2:3:4:5:6:7:8:9", "12345::",
             "2001:db8::8a2e:370:7334", "0:0:0:0:0:0:0:0",
             "::ffff:256.1.2.3", "1:2:3:4:5::6:7:8:9:1.2.3.4"]

    def parseip_ok(s):
        try:
            ipaddress.IPv6Address(s)
            return True
        except ValueError:
            return False

    df = spark.createDataFrame([(c,) for c in cases], "ip string")
    got = {r["ip"]: r["ok"] for r in
           df.select("ip", F.col("ip").rlike(_IPV6_RE).alias("ok"))
             .collect()}
    for c in cases:
        assert got[c] == parseip_ok(c), c


def test_convert_ip_rejects_loose_v6(spark):
    from beats_spark.processors import compile_processors
    df = spark.createDataFrame(
        [("1:2:3",), ("::1",), ("10.0.0.1",), ("999.1.1.1",)],
        "addr string")
    chain = compile_processors([{"convert": {
        "fields": [{"from": "addr", "to": "ip", "type": "ip"}]}}])
    got = {r["addr"]: r["ip"] for r in chain(df).collect()}
    assert got == {"1:2:3": None, "::1": "::1",
                   "10.0.0.1": "10.0.0.1", "999.1.1.1": None}


def test_network_direction_single_kernel_for_many_nets(spark):
    # N internal networks must plan ONE Arrow node per side, not N
    from beats_spark.processors import compile_processors
    df = spark.createDataFrame(
        [("10.0.0.1", "8.8.8.8"), ("fd00::1", "2001:db8::1"),
         ("127.0.0.1", "10.1.2.3"), (None, "8.8.4.4")],
        "source_ip string, destination_ip string")
    chain = compile_processors([{"add_network_direction": {
        "internal_networks": ["private", "loopback", "fd00::/8",
                              "169.254.0.0/16"]}}])
    out = chain(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") <= 2  # one per side
    got = {r["source_ip"]: r["network_direction"] for r in out.collect()}
    assert got["10.0.0.1"] == "outbound"     # private -> public
    assert got["fd00::1"] == "outbound"      # fd00::/8 -> external v6
    assert got["127.0.0.1"] == "internal"    # loopback -> private
    assert got[None] is None                 # invalid side: no direction


def test_token_bucket_null_timestamps_draw_without_accrual(spark):
    from pyspark.sql import functions as F
    from beats_spark.processors.core import token_bucket_filter
    rows = ([("k", 1_700_000_000_000_000 + i) for i in range(5)]
            + [("k", None), ("k", None)])
    df = spark.createDataFrame(rows, "key string, us long") \
        .select("key", F.timestamp_micros(F.col("us")).alias("ts"))
    # 3 tokens/s, burst 1: the 5 same-second rows keep 3; NaT rows
    # (sorted last) accrue nothing and find an empty bucket
    out = token_bucket_filter(df, limit="3/s", fields=["key"],
                              ts_field="ts")
    kept = out.collect()
    assert len(kept) == 3
    assert all(r["ts"] is not None for r in kept)


def test_new_oracles_survive_null_text_and_lang(spark, tmp_path):
    """repetition_stats / pack_greedy / pack_concat oracle parity on a
    crafted table WITH null text, empty text, and a null-lang shard —
    shapes absent from the shipped testdata but allowed by the
    schema."""
    import duckdb
    from beats_analytics.queries import QUERIES, ORACLES

    rows = [
        (1, "aa bb\naa bb\ncc", "en", "s", 5),
        (2, None, "en", "s", 0),
        (3, "", "de", "s", 0),
        (4, "x y z " * 50, None, "s", 6),
        (5, "q w e r t", None, "s", 5),
        (6, "\n\n", "de", "s", 2),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(sf, "documents.parquet"))

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet/*.parquet')")
    for name in ("repetition_stats", "pack_greedy", "pack_concat"):
        df = QUERIES[name](spark, sf)
        cols = df.columns
        got = df.toPandas().sort_values(cols).reset_index(drop=True)
        ora = (con.sql("SELECT * FROM (" + ORACLES[name] + ")").df()
               [cols].sort_values(cols).reset_index(drop=True))
        assert len(got) == len(ora), name
        pd_eq = got.equals(ora.astype(got.dtypes.to_dict()))
        assert pd_eq, f"{name}\n{got}\n{ora}"


# --------------------------------------------- sharded global bucket

def test_token_bucket_sharded_burst_caps_per_shard_budget(spark):
    """Global (fields-less) bucket with shards=k: a single-instant
    burst admits exactly sum(min(rows_in_shard, budget_i)) where the
    shard split is the engine's own deterministic hash and budget_i
    the integer split of the limit — the documented conservative
    approximation of the exact global bucket."""
    from pyspark.sql import functions as F
    df = _ev(spark, [0.0] * 100)
    out = token_bucket_filter(df, limit="40/s", ts_field="ts",
                              order_by=["id"], shards=4)
    counts = (df.withColumn("__s", F.pmod(F.hash(*df.columns), F.lit(4)))
              .groupBy("__s").count().collect())
    expected = sum(min(r["count"], 10) for r in counts)
    assert out.count() == expected < 40 + 1
    # deterministic: same rows kept on a second run
    out2 = token_bucket_filter(df, limit="40/s", ts_field="ts",
                               order_by=["id"], shards=4)
    assert _kept_ids(out) == _kept_ids(out2)


def test_token_bucket_sharded_steady_stream_is_exact(spark):
    # 1 event/sec vs 4/s with 2 shards (2/s each): consecutive events
    # in a shard are >=1s apart -> >=2 tokens accrued -> everything
    # passes, identical to the unsharded global bucket
    df = _ev(spark, list(range(20)))
    sharded = token_bucket_filter(df, limit="4/s", ts_field="ts",
                                  order_by=["id"], shards=2)
    exact = token_bucket_filter(df, limit="4/s", ts_field="ts",
                                order_by=["id"])
    assert _kept_ids(sharded) == _kept_ids(exact) == list(range(20))


def test_token_bucket_shards_reject_keyed(spark):
    df = _ev(spark, [0, 1, 2])
    with pytest.raises(ValueError, match="shards applies only"):
        token_bucket_filter(df, limit="2/s", fields=["k"],
                            ts_field="ts", shards=2)


def test_rate_limit_cfg_shards_passthrough(spark):
    df = _ev(spark, [0.0] * 8)
    chain = compile_processors([
        {"rate_limit": {"limit": "4/s", "algorithm": "token_bucket",
                        "timestamp_field": "ts", "order_by": ["id"],
                        "shards": 2}}])
    n = chain(df).count()
    assert 0 < n <= 4
